"""Statistical aggregates, binning, reshaping, and data profiling.

The reference has no statistics layer at all (its only aggregate is the
per-vertex argmax, /root/reference/assembly_final.cpp:298-309); these are
the column-statistics operators a warehouse/training-data pipeline needs
on top of the SURVEY.md §2.B surface:

* **moment aggregates** — stddev/variance (sample + population),
  correlation and covariance; all single-pass, map-side-combinable
  hash aggregates in Spark (no window, no second scan).
* **fixed-width histogram** — ``floor(x/w)`` binning: pure integer
  arithmetic, identical in every engine, and at 100 TB it is one
  map-side-combined aggregation (compare ``width_bucket`` UDF-style
  approaches that block codegen).
* **unpivot (melt)** — wide→long reshape with ``DataFrame.unpivot``,
  which Spark plans as a single ``Expand`` (one scan, no union of N
  scans; the DuckDB oracle uses the equivalent UNION ALL).
* **IN / EXISTS subqueries** — decorrelated by Catalyst into left-semi
  joins; expressed DataFrame-side as explicit ``left_semi`` joins (the
  broadcast-able dim side is hinted).
* **date arithmetic** — add-days / last_day / iso weekday / quarter /
  datediff, pinned against DuckDB's calendar (weekday conventions
  differ across engines: Spark ``weekday()`` is Monday=0, DuckDB
  ``isodow`` is Monday=1 — the declared column is ISO Monday=1).
* **sorted collect_list** — per-group ordered array materialization
  (``array_sort(collect_list(...))``), the building block for
  sequence-model feature assembly; deterministic because sorted.
* **column profiler** — one-pass per-column count/nulls/distinct/min/max
  in long format, the standard pre-training data-quality report; a
  single ``Expand``-style aggregate pass, not one scan per column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from bigdatagenomic_spark.functions import md5_long, tokens
from bigdatagenomic_spark.operators.relational import round2_portable
from bigdatagenomic_spark.sources.local import pin_counted
from bigdatagenomic_spark.sources.tables import fan_out, load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# moment aggregates
# --------------------------------------------------------------------------
def q_x_stat_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample/population stddev + variance, corr, covariance per group.

    One hash aggregate: Spark computes all moments in a single pass with
    map-side partial aggregation (sum, sum of squares, co-moments), so
    at 100 TB this shuffles one small row per (group, partition).
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            round2_portable(F.stddev_samp("l_extendedprice")).alias("sd_price"),
            round2_portable(F.var_samp("l_quantity")).alias("var_qty"),
            round2_portable(F.stddev_pop("l_quantity")).alias("sdp_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
            round2_portable(
                F.covar_samp("l_quantity", "l_extendedprice")
            ).alias("cov_qp"),
            F.count("*").alias("cnt"),
        )
        .orderBy("l_returnflag")
    )


Q_X_STAT_AGGS_SQL = """
SELECT l_returnflag,
       floor(stddev_samp(l_extendedprice)*100 + 0.5)/100 AS sd_price,
       floor(var_samp(l_quantity)*100 + 0.5)/100          AS var_qty,
       floor(stddev_pop(l_quantity)*100 + 0.5)/100        AS sdp_qty,
       round(corr(l_quantity, l_extendedprice), 6)        AS corr_qp,
       floor(covar_samp(l_quantity, l_extendedprice)*100 + 0.5)/100 AS cov_qp,
       count(*) AS cnt
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --------------------------------------------------------------------------
# fixed-width histogram
# --------------------------------------------------------------------------
BIN_WIDTH = 5000


def q_x_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of order totals in fixed 5000-wide bins.

    ``floor(x/w)`` stays in whole-stage codegen and map-side-combines;
    the result is one row per occupied bin regardless of input size.
    """
    o = _t(spark, sf_dir, "orders")
    bin_id = F.floor(F.col("o_totalprice") / F.lit(BIN_WIDTH)).cast("long")
    return (
        o.groupBy(bin_id.alias("bin"))
        .agg(
            F.count("*").alias("cnt"),
            round2_portable(F.avg("o_totalprice")).alias("avg_price"),
        )
        .withColumn("lo", (F.col("bin") * BIN_WIDTH).cast("double"))
        .select("bin", "lo", "cnt", "avg_price")
        .orderBy("bin")
    )


Q_X_HISTOGRAM_SQL = f"""
SELECT CAST(floor(o_totalprice/{BIN_WIDTH}) AS BIGINT) AS bin,
       CAST(CAST(floor(o_totalprice/{BIN_WIDTH}) AS BIGINT)*{BIN_WIDTH} AS DOUBLE) AS lo,
       count(*) AS cnt,
       floor(avg(o_totalprice)*100 + 0.5)/100 AS avg_price
FROM orders GROUP BY 1, 2 ORDER BY bin
"""


# --------------------------------------------------------------------------
# unpivot / melt
# --------------------------------------------------------------------------
def q_x_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part(p_retailprice, p_size) wide→long via DataFrame.unpivot.

    Spark plans this as one ``Expand`` over a single scan — not N
    unioned scans — so the 100 TB cost is one pass however many metric
    columns are melted.
    """
    p = _t(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.col("p_retailprice").cast("double"),
            F.col("p_size").cast("double"),
        )
        .unpivot("p_partkey", ["p_retailprice", "p_size"], "metric", "value")
        .orderBy("p_partkey", "metric")
    )


Q_X_UNPIVOT_SQL = """
SELECT p_partkey, 'p_retailprice' AS metric, CAST(p_retailprice AS DOUBLE) AS value
FROM part
UNION ALL
SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
ORDER BY p_partkey, metric
"""


# --------------------------------------------------------------------------
# IN / EXISTS subqueries (decorrelated → semi joins)
# --------------------------------------------------------------------------
def q_x_exists_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with a big order (IN) from a NATION_1x nation (EXISTS).

    Written as the plan Catalyst decorrelates such subqueries into:
    two left-semi joins, the tiny nation side broadcast.
    """
    c = _t(spark, sf_dir, "customer")
    big = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 50000)
        .select("o_custkey")
    )
    a_nations = (
        _t(spark, sf_dir, "nation")
        .where(F.col("n_name").like("NATION_1%"))
        .select("n_nationkey")
    )
    return (
        c.join(big, c["c_custkey"] == big["o_custkey"], "left_semi")
        .join(
            F.broadcast(a_nations),
            c["c_nationkey"] == a_nations["n_nationkey"],
            "left_semi",
        )
        .select("c_custkey")
        .orderBy("c_custkey")
    )


Q_X_EXISTS_IN_SQL = """
SELECT c_custkey FROM customer c
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 50000)
  AND EXISTS (SELECT 1 FROM nation n
              WHERE n.n_nationkey = c.c_nationkey AND n.n_name LIKE 'NATION_1%')
ORDER BY c_custkey
"""


# --------------------------------------------------------------------------
# date arithmetic
# --------------------------------------------------------------------------
def q_x_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic pinned across engines.

    ``iso_dow`` is declared ISO (Monday=1): Spark ``weekday()+1``,
    DuckDB ``isodow()`` — Spark's ``dayofweek()`` (Sunday=1) would
    silently disagree.
    """
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.date_add(d, 30).alias("d_plus30"),
        F.last_day(d).alias("month_end"),
        (F.weekday(d) + 1).cast("long").alias("iso_dow"),
        F.quarter(d).cast("long").alias("qtr"),
        F.datediff(F.lit("1998-01-01").cast("date"), d).cast("long").alias("days_to_98"),
    ).orderBy("o_orderkey")


Q_X_DATE_ARITH_SQL = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) + 30                          AS d_plus30,
       last_day(CAST(o_orderdate AS DATE))                     AS month_end,
       CAST(isodow(o_orderdate) AS BIGINT)                     AS iso_dow,
       CAST(quarter(o_orderdate) AS BIGINT)                    AS qtr,
       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS BIGINT)
                                                               AS days_to_98
FROM orders ORDER BY o_orderkey
"""


# --------------------------------------------------------------------------
# sorted per-group array materialization
# --------------------------------------------------------------------------
def q_x_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer sorted order-key array (sequence feature assembly).

    ``collect_list`` gathers in nondeterministic partition order;
    ``array_sort`` makes the value deterministic and hash-comparable.
    One shuffle on the group key; per-group arrays stay small relative
    to executor memory (bounded by orders-per-customer, not table size).
    The array is emitted comma-joined (driver canonicalizes via pandas,
    which can't sort raw list cells; BIGINT-to-string agrees exactly).
    """
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.array_sort(F.collect_list("o_orderkey")).alias("ok_arr"))
        .select(
            "o_custkey",
            F.array_join(
                F.transform("ok_arr", lambda x: x.cast("string")), ","
            ).alias("orderkeys"),
            F.size("ok_arr").cast("long").alias("n_orders"),
        )
        .orderBy("o_custkey")
    )


Q_X_COLLECT_SORTED_SQL = """
SELECT o_custkey,
       array_to_string(array_agg(o_orderkey ORDER BY o_orderkey), ',')
         AS orderkeys,
       count(*) AS n_orders
FROM orders GROUP BY o_custkey ORDER BY o_custkey
"""


# --------------------------------------------------------------------------
# array higher-order functions
# --------------------------------------------------------------------------
def q_x_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform / filter / exists over the embedding arrays.

    All three run inside codegen on the JVM (no UDF, no Arrow hop) —
    the declared contract for array feature engineering at scale.
    Floats are widened to double *before* arithmetic so Spark and the
    oracle accumulate identically.
    """
    e = _t(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias("n_pos"),
        F.round(
            F.aggregate(
                as_double, F.lit(0.0), lambda acc, x: acc + F.abs(x)
            ),
            4,
        ).alias("l1_norm"),
        F.exists("embedding", lambda x: x > 2.0).alias("has_gt2"),
    ).orderBy("vec_id")


Q_X_ARRAY_HOF_SQL = """
SELECT vec_id,
       CAST(length(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
       round(list_sum(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 4)
           AS l1_norm,
       length(list_filter(embedding, x -> x > 2.0)) > 0 AS has_gt2
FROM embeddings ORDER BY vec_id
"""


# --------------------------------------------------------------------------
# one-pass column profiler
# --------------------------------------------------------------------------
PROFILE_COLS = ("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")


def profile(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Long-format per-column profile: count / nulls / distinct / min / max.

    Built as ONE aggregate row (every metric for every column in a
    single pass — count_distinct over N columns is one Expand, not N
    scans) then exploded to long format driver-free. min/max are
    stringified so heterogeneous column types share one schema.
    """
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__count"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__count").alias("cnt"),
                F.col(f"{c}__nulls").alias("nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_s"),
                F.col(f"{c}__max").alias("max_s"),
            )
            for c in cols
        ]
    )
    return (
        one.select(F.explode(pairs).alias("p"))
        .select("p.*")
        .orderBy("col_name")
    )


def q_x_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile(_t(spark, sf_dir, "orders"), PROFILE_COLS)


def _profile_oracle_one(c: str) -> str:
    return f"""SELECT '{c}' AS col_name, count({c}) AS cnt,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_s, CAST(max({c}) AS VARCHAR) AS max_s
FROM orders"""


Q_X_PROFILE_SQL = (
    "\nUNION ALL\n".join(_profile_oracle_one(c) for c in PROFILE_COLS)
    + "\nORDER BY col_name"
)


# --------------------------------------------------------------------------
# robust outlier detection (z-score + MAD)
# --------------------------------------------------------------------------
Z_THRESH = 3.0
ROBUST_Z_THRESH = 3.5
MAD_CONSISTENCY = 0.6745  # Φ⁻¹(0.75): scales MAD to σ under normality


def outlier_flags(df: DataFrame, key: str, col: str) -> DataFrame:
    """Per-group parametric (z-score) and robust (MAD) outlier flags.

    Two aggregate passes — (mean, σ_pop, median), then MAD, which needs
    the group median first — each a map-side-combinable hash aggregate;
    the per-group stats are tiny (one row per key) so both join-backs
    are broadcasts. No window over the fact table and no sort: at 100 TB
    this is two scans + two broadcast joins, the cheapest exact plan for
    a two-level statistic like MAD. (``percentile_approx`` would do it
    in one pass with error bounds; this operator is the exact variant.)
    """
    x = F.col(col)
    g1 = df.groupBy(key).agg(
        F.avg(x).alias("_mu"),
        F.stddev_pop(x).alias("_sigma"),
        F.median(x).alias("_med"),
    )
    with_stats = df.join(F.broadcast(g1), key)
    g2 = with_stats.groupBy(key).agg(
        F.median(F.abs(x - F.col("_med"))).alias("_mad")
    )
    with_mad = with_stats.join(F.broadcast(g2), key)
    # try_divide: a zero-variance / zero-MAD group (constant column) must
    # yield NULL scores — no outliers — not an ANSI divide-by-zero error
    z = F.try_divide(x - F.col("_mu"), F.col("_sigma"))
    rz = F.lit(MAD_CONSISTENCY) * F.try_divide(x - F.col("_med"), F.col("_mad"))
    return with_mad.withColumn("z_score", z).withColumn("robust_z", rz)


def q_x_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    flagged = outlier_flags(li, "l_returnflag", "l_extendedprice")
    return (
        flagged.where(
            (F.abs("z_score") > Z_THRESH) | (F.abs("robust_z") > ROBUST_Z_THRESH)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_extendedprice",
            F.round("z_score", 4).alias("z_score"),
            F.round("robust_z", 4).alias("robust_z"),
            (F.abs("z_score") > Z_THRESH).alias("is_z_outlier"),
            (F.abs("robust_z") > ROBUST_Z_THRESH).alias("is_mad_outlier"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


Q_X_OUTLIER_FLAGS_SQL = f"""
WITH g1 AS (
  SELECT l_returnflag, avg(l_extendedprice) AS mu,
         stddev_pop(l_extendedprice) AS sigma,
         median(l_extendedprice) AS med
  FROM lineitem GROUP BY l_returnflag
), g2 AS (
  SELECT l.l_returnflag, median(abs(l.l_extendedprice - g1.med)) AS mad
  FROM lineitem l JOIN g1 USING (l_returnflag)
  GROUP BY l.l_returnflag
), scored AS (
  SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_extendedprice,
         (l.l_extendedprice - g1.mu) / g1.sigma AS z_raw,
         {MAD_CONSISTENCY} * (l.l_extendedprice - g1.med) / g2.mad AS rz_raw
  FROM lineitem l
  JOIN g1 USING (l_returnflag)
  JOIN g2 USING (l_returnflag)
)
SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
       round(z_raw, 4) AS z_score, round(rz_raw, 4) AS robust_z,
       abs(z_raw) > {Z_THRESH} AS is_z_outlier,
       abs(rz_raw) > {ROBUST_Z_THRESH} AS is_mad_outlier
FROM scored
WHERE abs(z_raw) > {Z_THRESH} OR abs(rz_raw) > {ROBUST_Z_THRESH}
ORDER BY l_orderkey, l_linenumber
"""


# --------------------------------------------------------------------------
# mergeable-sketch rollup (HLL): the precompute-then-union pattern
# --------------------------------------------------------------------------
def hll_daily_rollup(events: DataFrame) -> DataFrame:
    """Distinct users per day AND overall from ONE pass of sketches.

    The 100 TB pattern for distinct-count dashboards: build an HLL
    sketch per partition/day once (map-side combinable aggregate),
    then answer the per-day question with ``hll_sketch_estimate`` and
    the any-range question by ``hll_union_agg`` over the tiny sketch
    rows — the raw events are never re-scanned. Exact distinct over a
    rolling range would need a full reshuffle per query; sketch union
    is O(days) bytes. Approximate by algorithm (Spark's HLL++), so the
    registry entry is rows-only; tolerance vs exact counts is pinned in
    tests/test_scale.py.
    """
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count("*").alias("n_events"),
    )
    per_day = daily.select(
        "day", F.hll_sketch_estimate("sk").alias("approx_users"), "n_events"
    )
    overall = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        F.sum("n_events").alias("n_events"),
    ).select(F.lit(None).cast("date").alias("day"), "approx_users", "n_events")
    return per_day.unionByName(overall).orderBy(F.col("day").asc_nulls_last())


def q_x_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hll_daily_rollup(_t(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# data-quality constraint report
# --------------------------------------------------------------------------
def dq_report(
    df: DataFrame,
    unique_cols: list[str],
    not_null_cols: list[str],
    fk: tuple[str, DataFrame, str] | None = None,
) -> DataFrame:
    """One-pass-per-constraint-family data-quality report in long form:
    (check, column, violations). Uniqueness = groupBy-count>1 per
    declared key; not-null = conditional counts in ONE aggregate pass
    over the table; referential integrity = a left-anti join against
    the parent key set. Each family is its own tiny job and the output
    is a handful of rows, so the report runs cheaply at any scale —
    this is the pre-load gate a warehouse runs before publishing a
    partition.
    """
    spark = df.sparkSession
    parts = []
    for c in unique_cols:
        dup = (
            df.groupBy(c)
            .count()
            .where(F.col("count") > 1)
            .agg(F.coalesce(F.sum(F.col("count") - 1), F.lit(0)).alias("v"))
            .select(
                F.lit("unique").alias("check"),
                F.lit(c).alias("column"),
                F.col("v").cast("long").alias("violations"),
            )
        )
        parts.append(dup)
    if not_null_cols:
        null_counts = df.agg(
            *[
                F.count_if(F.col(c).isNull()).alias(c)
                for c in not_null_cols
            ]
        )
        long_form = null_counts.unpivot(
            [], not_null_cols, "column", "violations"
        ).select(
            F.lit("not_null").alias("check"),
            "column",
            F.col("violations").cast("long"),
        )
        parts.append(long_form)
    if fk is not None:
        child_col, parent, parent_col = fk
        orphans = (
            df.select(F.col(child_col))
            .where(F.col(child_col).isNotNull())
            .join(
                parent.select(F.col(parent_col).alias(child_col)),
                child_col,
                "left_anti",
            )
            .agg(F.count("*").alias("v"))
            .select(
                F.lit("foreign_key").alias("check"),
                F.lit(child_col).alias("column"),
                F.col("v").cast("long").alias("violations"),
            )
        )
        parts.append(orphans)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("check", "column")


def q_x_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return dq_report(
        o,
        unique_cols=["o_orderkey", "o_custkey"],
        not_null_cols=["o_orderdate", "o_totalprice"],
        fk=("o_custkey", c, "c_custkey"),
    )


Q_X_DQ_REPORT_SQL = """
SELECT 'foreign_key' AS "check", 'o_custkey' AS "column",
       (SELECT count(*) FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND o.o_custkey NOT IN (SELECT c_custkey FROM customer))
         AS violations
UNION ALL
SELECT 'not_null', 'o_orderdate',
       (SELECT count(*) FROM orders WHERE o_orderdate IS NULL)
UNION ALL
SELECT 'not_null', 'o_totalprice',
       (SELECT count(*) FROM orders WHERE o_totalprice IS NULL)
UNION ALL
SELECT 'unique', 'o_orderkey',
       -- CAST: sum() over ints is HUGEINT in DuckDB -> float64 in pandas;
       -- keep the whole UNION column int64 like the Spark side
       (SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT) FROM
         (SELECT count(*) AS n FROM orders GROUP BY o_orderkey) WHERE n > 1)
UNION ALL
SELECT 'unique', 'o_custkey',
       (SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT) FROM
         (SELECT count(*) AS n FROM orders GROUP BY o_custkey) WHERE n > 1)
ORDER BY "check", "column"
"""


# --------------------------------------------------------------------------
# quantile discretization (feature binning)
# --------------------------------------------------------------------------
N_QUANTILE_BINS = 4


def quantile_bins(df: DataFrame, col: str, n_bins: int = N_QUANTILE_BINS) -> DataFrame:
    """Assign each row to its value's quantile bin (0..n_bins-1).

    The QuantileDiscretizer pattern on plain SQL: exact interpolated
    percentile boundaries from ONE aggregate pass (tiny result,
    broadcast back), bin = count of boundaries <= value. Rows equal to
    a boundary go to the higher bin, matching searchsorted-right. At
    scale you'd swap ``percentile`` for ``percentile_approx`` — the
    plan shape is identical; the exact form is kept here for the
    hash-match gate.
    """
    probs = [i / n_bins for i in range(1, n_bins)]
    bounds = df.agg(
        F.array(
            *[F.percentile(col, F.lit(p)).alias(f"q{i}") for i, p in enumerate(probs)]
        ).alias("_bounds")
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            "bin",
            F.aggregate(
                "_bounds",
                F.lit(0),
                lambda acc, b: acc
                + F.when(F.col(col) >= b, F.lit(1)).otherwise(F.lit(0)),
            ),
        )
        .drop("_bounds")
    )


def q_x_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    binned = quantile_bins(li, "l_extendedprice")
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n_rows"),
            round2_portable(F.min("l_extendedprice")).alias("lo"),
            round2_portable(F.max("l_extendedprice")).alias("hi"),
        )
        .orderBy("bin")
    )


Q_X_QUANTILE_BINS_SQL = """
WITH b AS (
  SELECT [quantile_cont(l_extendedprice, 0.25),
          quantile_cont(l_extendedprice, 0.50),
          quantile_cont(l_extendedprice, 0.75)] AS bounds
  FROM lineitem
), binned AS (
  SELECT l.l_extendedprice,
         len(list_filter(b.bounds, x -> l.l_extendedprice >= x)) AS bin
  FROM lineitem l CROSS JOIN b
)
SELECT bin, count(*) AS n_rows,
       floor(min(l_extendedprice) * 100 + 0.5) / 100 AS lo,
       floor(max(l_extendedprice) * 100 + 0.5) / 100 AS hi
FROM binned GROUP BY bin ORDER BY bin
"""


# ---------------------------------------------------------------------------
# Benford first-digit screen (fraud / synthetic-data detector)
# ---------------------------------------------------------------------------
def q_x_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order values vs the
    Benford expectation — the classic anomaly screen for fabricated or
    truncated numeric feeds. The digit comes from the DECIMAL string
    form (cast double -> DECIMAL(18,2) -> string), not from
    log10/pow float math whose boundary behavior differs between
    engines at exact powers of ten. Share is reported in exact integer
    basis points (grid-average lesson); the Benford reference column
    is a constant expression, rounded identically on both engines.
    """
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("int")
    per_digit = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count("*").alias("n")
    )
    total = per_digit.agg(F.sum("n").alias("_t"))
    return (
        per_digit.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.expr("(2 * n * 10000 + _t) div (2 * _t)").alias("share_bps"),
            (
                F.floor(
                    F.log10((F.col("digit") + 1) / F.col("digit")) * 10000
                    + F.lit(0.5)
                ).cast("long")
            ).alias("benford_bps"),
        )
        .orderBy("digit")
    )


Q_X_BENFORD_SQL = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
              AS INT) AS digit
  FROM orders
), per_digit AS (
  SELECT digit, count(*) AS n FROM d GROUP BY digit
), t AS (SELECT CAST(sum(n) AS BIGINT) AS _t FROM per_digit)
SELECT digit, n,
       (2 * n * 10000 + _t) // (2 * _t) AS share_bps,
       CAST(floor(log10((digit + 1.0) / digit) * 10000 + 0.5) AS BIGINT)
         AS benford_bps
FROM per_digit, t
ORDER BY digit
"""


# ---------------------------------------------------------------------------
# day-of-week x hour activity heatmap (NTZ-stable calendar profile)
# ---------------------------------------------------------------------------
def q_x_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event volume by (ISO day-of-week, hour) — the load-profile
    heatmap behind capacity planning and bot detection. Runs on the
    NTZ event time, so the bucketing is wall-clock stable regardless
    of the session timezone (pinned repo-wide by the NTZ invariant
    tests). One map-side-combined shuffle over a 7x24-bounded domain.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.dayofweek("ts").alias("dow"),
            F.hour("ts").alias("hour"),
        )
        .groupBy("dow", "hour")
        .agg(F.count("*").alias("n"))
        .orderBy("dow", "hour")
    )


Q_X_DOW_HOUR_HEATMAP_SQL = """
SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hour, count(*) AS n
FROM events
GROUP BY 1, 2
ORDER BY dow, hour
"""


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval (the scalable bootstrap)
# ---------------------------------------------------------------------------
BOOT_B = 100  # bootstrap replicas
# Poisson(1) inverse-CDF thresholds scaled by 1e9 — the uniform draw is an
# INTEGER hash residue compared against integer thresholds, so replica
# weights are engine-exact (no float CDF anywhere)
_POIS_T = (367879441, 735758882, 919698603, 981011843, 996340153)


def bootstrap_ci_mean(orders: DataFrame, n_reps: int = BOOT_B) -> DataFrame:
    """One-row (n_replicas, point_mean, ci_lo, ci_hi): 95% bootstrap CI
    for the mean order value. Classic resampling draws n rows n times
    per replica — unshardable; the POISSON bootstrap (Chamandy et al.,
    Google 2012) instead gives every (row, replica) an independent
    Poisson(1) weight, which is a map-side explode followed by one
    partial-aggregated group-by on the replica id: the 100 TB-correct
    formulation. Weights come from an integer hash residue against
    integer inverse-CDF thresholds; replica sums stay in exact integer
    cents, so each replica mean is one exact division and the engines
    agree bit-for-bit. The final rank-and-pick runs over n_reps rows —
    a bounded single window by construction (same documented class as
    q_x_funnel_rates' 3-row window).

    The CI endpoints are the 2.5%/97.5% replica-mean order statistics,
    DERIVED from ``n_reps`` (lo = ceil(0.025*n_reps), hi = n_reps+1-lo;
    100 replicas -> ranks 3/98) so a non-default replica count still
    yields a 95% interval rather than silently shifting the confidence
    level.
    """
    lo_rank = -((-25 * n_reps) // 1000)  # ceil(0.025 * n_reps), exact integer
    hi_rank = n_reps + 1 - lo_rank
    base = orders.select(
        F.col("o_orderkey").alias("key"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    b = F.explode(F.sequence(F.lit(0), F.lit(n_reps - 1))).alias("b")
    u = F.pmod(
        md5_long(
            F.concat(
                F.lit("boot:"),
                F.col("b").cast("string"),
                F.lit(":"),
                F.col("key").cast("string"),
            )
        ),
        F.lit(1_000_000_000),
    )
    w = (
        F.when(u < _POIS_T[0], 0)
        .when(u < _POIS_T[1], 1)
        .when(u < _POIS_T[2], 2)
        .when(u < _POIS_T[3], 3)
        .when(u < _POIS_T[4], 4)
        .otherwise(5)
    )
    reps = (
        base.select("key", "cents", b)
        .select("b", "cents", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("sc"),
            F.sum("w").alias("n"),
        )
        .select("b", (F.col("sc") / (F.col("n") * 100.0)).alias("m"))
    )
    ranked = reps.select(
        "m", F.row_number().over(W.orderBy(F.asc("m"), F.asc("b"))).alias("rk")
    )
    ci = ranked.agg(
        F.min(F.when(F.col("rk") == lo_rank, F.col("m"))).alias("ci_lo"),
        F.min(F.when(F.col("rk") == hi_rank, F.col("m"))).alias("ci_hi"),
    )
    point = base.agg(
        (F.sum("cents") / (F.count("*") * 100.0)).alias("point_mean")
    )
    return point.crossJoin(F.broadcast(ci)).select(
        F.lit(n_reps).cast("long").alias("n_replicas"),
        F.round("point_mean", 4).alias("point_mean"),
        F.round("ci_lo", 4).alias("ci_lo"),
        F.round("ci_hi", 4).alias("ci_hi"),
    )


def q_x_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bootstrap_ci_mean(load_table(spark, sf_dir, "orders"))


Q_X_BOOTSTRAP_CI_SQL = f"""
WITH base AS (
  SELECT o_orderkey AS key,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
drawn AS (
  SELECT b.b, base.cents,
         CAST(('0x' || substr(md5('boot:' || CAST(b.b AS VARCHAR) || ':'
                                  || CAST(base.key AS VARCHAR)), 1, 15))
              AS BIGINT) % 1000000000 AS u
  FROM base, (SELECT unnest(range(0, {BOOT_B})) AS b) b),
weighted AS (
  SELECT b, cents,
         CASE WHEN u < {_POIS_T[0]} THEN 0
              WHEN u < {_POIS_T[1]} THEN 1
              WHEN u < {_POIS_T[2]} THEN 2
              WHEN u < {_POIS_T[3]} THEN 3
              WHEN u < {_POIS_T[4]} THEN 4
              ELSE 5 END AS w
  FROM drawn),
reps AS (
  SELECT b, sum(w * cents) / (sum(w) * 100.0) AS m
  FROM weighted GROUP BY b),
ranked AS (
  SELECT m, row_number() OVER (ORDER BY m, b) AS rk FROM reps),
ci AS (
  SELECT min(CASE WHEN rk = {-((-25 * BOOT_B) // 1000)} THEN m END) AS ci_lo,
         min(CASE WHEN rk = {BOOT_B + 1 + ((-25 * BOOT_B) // 1000)} THEN m END)
           AS ci_hi
  FROM ranked),
pt AS (
  SELECT sum(cents) / (count(*) * 100.0) AS point_mean FROM base)
SELECT CAST({BOOT_B} AS BIGINT) AS n_replicas,
       round(pt.point_mean, 4) AS point_mean,
       round(ci.ci_lo, 4) AS ci_lo,
       round(ci.ci_hi, 4) AS ci_hi
FROM pt, ci
"""


# ---------------------------------------------------------------------------
# count-min sketch heavy-hitter monitor (deterministic, exact-checkable)
# ---------------------------------------------------------------------------
CMS_DEPTH = 4     # independent hash rows
CMS_WIDTH = 1024  # buckets per row
CMS_TOPK = 20


def cms_word_monitor(
    docs: DataFrame,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    k: int = CMS_TOPK,
) -> DataFrame:
    """(word, exact_count, cms_est, overestimate) for the corpus's top-k
    words: builds a count-min sketch (depth x width counter grid) over
    the token stream and reads the top words back through it, next to
    their exact counts — the sketch-accuracy monitor a pipeline runs
    before trusting CMS numbers at full scale. CMS never undercounts,
    so overestimate >= 0 always; its size is the quality signal.

    Unlike the HLL rollup (approximate BY ALGORITHM -> rows-only
    check), CMS with fixed seeded hashes is a pure deterministic
    fold: the whole sketch is groupBy((row, bucket)) over map-side
    hashes — d*w = 4096 cells whatever the corpus size — and the
    estimate is a min over d cells. Everything hash-checks against the
    oracle replaying the same grid.
    """
    words = docs.where(F.col("text").isNotNull()).select(
        F.explode(tokens(F.col("text"))).alias("word")
    )
    r = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r")

    def bucket(word: Column, row: Column) -> Column:
        return F.pmod(
            md5_long(
                F.concat(F.lit("cms"), row.cast("string"), F.lit(":"), word)
            ),
            F.lit(width),
        )

    sketch = (
        words.select("word", r)
        .select("r", bucket(F.col("word"), F.col("r")).alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count("*").alias("cell"))
    )
    top = (
        words.groupBy("word")
        .agg(F.count("*").alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("word"))
        .limit(k)
    )
    probes = top.select(
        "word", "exact_count", r
    ).select(
        "word",
        "exact_count",
        "r",
        bucket(F.col("word"), F.col("r")).alias("bucket"),
    )
    est = (
        probes.join(sketch, ["r", "bucket"])
        .groupBy("word", "exact_count")
        .agg(F.min("cell").cast("long").alias("cms_est"))
    )
    return est.select(
        "word",
        F.col("exact_count").cast("long").alias("exact_count"),
        "cms_est",
        (F.col("cms_est") - F.col("exact_count")).cast("long").alias(
            "overestimate"
        ),
    )


def q_x_cms_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cms_word_monitor(fan_out(load_table(spark, sf_dir, "documents"))).orderBy(
        F.desc("exact_count"), F.asc("word")
    )


Q_X_CMS_WORDS_SQL = f"""
WITH words AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS word
  FROM documents WHERE text IS NOT NULL),
hashed AS (
  SELECT word, r.r,
         CAST(('0x' || substr(md5('cms' || CAST(r.r AS VARCHAR) || ':'
                                  || word), 1, 15)) AS BIGINT)
           % {CMS_WIDTH} AS bucket
  FROM words, (SELECT unnest(range(0, {CMS_DEPTH})) AS r) r),
sketch AS (
  SELECT r, bucket, count(*) AS cell FROM hashed GROUP BY r, bucket),
top AS (
  SELECT word, count(*) AS exact_count FROM words GROUP BY word
  ORDER BY exact_count DESC, word LIMIT {CMS_TOPK}),
probes AS (
  SELECT t.word, t.exact_count, r.r,
         CAST(('0x' || substr(md5('cms' || CAST(r.r AS VARCHAR) || ':'
                                  || t.word), 1, 15)) AS BIGINT)
           % {CMS_WIDTH} AS bucket
  FROM top t, (SELECT unnest(range(0, {CMS_DEPTH})) AS r) r)
SELECT p.word, CAST(p.exact_count AS BIGINT) AS exact_count,
       CAST(min(s.cell) AS BIGINT) AS cms_est,
       CAST(min(s.cell) - p.exact_count AS BIGINT) AS overestimate
FROM probes p JOIN sketch s USING (r, bucket)
GROUP BY p.word, p.exact_count
ORDER BY exact_count DESC, word
"""


# ---------------------------------------------------------------------------
# pipeline volume anomaly monitor (daily-count 3-sigma control test)
# ---------------------------------------------------------------------------
def volume_anomalies(events: DataFrame) -> DataFrame:
    """(event_type, day, n_rows, is_anomaly) — data-ops volume
    monitoring: each event type's DAILY row count tested against that
    type's own daily-count distribution at 3 sigma; the alarm that
    catches a dead producer or a double-delivery day before a training
    run ingests it. Complements q_x_outlier_flags (which scores VALUES;
    this scores pipeline VOLUME over time).

    The 3-sigma test is exact integer arithmetic — counts are integers,
    so with S = sum of daily counts, Q = sum of squares, n = number of
    days, the breach |x - S/n| > 3*sigma cross-multiplies to

        (n*x - S)^2 * (n-1) > 9 * n * (n*Q - S^2)

    and no float summation order can flip a verdict. Two aggregates
    (daily counts, then per-type moments) + one broadcast join of the
    |types|-row moment table.
    """
    daily = (
        events.where(F.col("ts").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n_rows"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("n_rows").alias("s"),
        F.sum(F.col("n_rows") * F.col("n_rows")).alias("q"),
    )
    j = daily.join(F.broadcast(stats), "event_type")
    dev = (F.col("n_days") * F.col("n_rows") - F.col("s")).cast("long")
    lhs = dev * dev * (F.col("n_days") - 1)
    rhs = (
        9
        * F.col("n_days")
        * (F.col("n_days") * F.col("q") - F.col("s") * F.col("s"))
    )
    return j.select(
        "event_type",
        "day",
        F.col("n_rows").cast("long").alias("n_rows"),
        ((F.col("n_days") > 1) & (lhs > rhs)).alias("is_anomaly"),
    )


def q_x_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return volume_anomalies(load_table(spark, sf_dir, "events")).orderBy(
        "event_type", "day"
    )


Q_X_VOLUME_ANOMALIES_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_rows
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, CAST(ts AS DATE)),
stats AS (
  SELECT event_type, count(*) AS n_days, sum(n_rows) AS s,
         sum(n_rows * n_rows) AS q
  FROM daily GROUP BY event_type)
SELECT d.event_type, d.day, CAST(d.n_rows AS BIGINT) AS n_rows,
       (st.n_days > 1 AND
        (st.n_days * d.n_rows - st.s) * (st.n_days * d.n_rows - st.s)
          * (st.n_days - 1)
        > 9 * st.n_days * (st.n_days * st.q - st.s * st.s)) AS is_anomaly
FROM daily d JOIN stats st USING (event_type)
ORDER BY d.event_type, d.day
"""


# ---------------------------------------------------------------------------
# Per-group OLS trend (closed-form linear regression)
# ---------------------------------------------------------------------------

LINREG_X0 = 9000  # epoch-day center: keeps x small so moment sums stay narrow


def q_x_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority OLS trend of order value over time.

    Closed-form simple linear regression per group — the trend-detection
    primitive behind drift monitors and forecast baselines:
    ``slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)`` with
    ``x = epoch_day - LINREG_X0`` (centering keeps per-row moments
    small) and ``y = order cents`` (exact integers).

    One map-side-combined hash aggregate per group computes the four
    moment sums EXACTLY — per-row products fit BIGINT, the sums are
    accumulated as DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), so the
    numerator/denominator algebra is integer-exact at any corpus size
    (a 1e10-row group's n*Sxy is ~1e31, inside DECIMAL(38)). Only the
    final division happens in floating point, on bit-identical casts of
    the same exact integers — floor-rounded at 6 decimals. No second
    pass, no window: this is a single shuffle on the group key.
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("grp"),
        (
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date"))
            - F.lit(LINREG_X0)
        ).cast("long").alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
    )
    dec = "decimal(38,0)"
    s = base.groupBy("grp").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).cast(dec).alias("sx"),
        F.sum(F.col("y").cast(dec)).cast(dec).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast(dec).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast(dec).alias("sxy"),
    )

    def _r6(c):
        return F.floor(c * 1000000 + F.lit(0.5)) / 1000000

    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope_num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    icept_num = (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast(
        "double"
    )
    return s.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        _r6(F.try_divide(slope_num, F.nullif(den, F.lit(0.0)))).alias(
            "slope_cents_per_day"
        ),
        _r6(F.try_divide(icept_num, F.nullif(den, F.lit(0.0)))).alias(
            "intercept_cents"
        ),
    ).orderBy("grp")


Q_X_LINREG_SQL = f"""
WITH base AS (
  SELECT o_orderpriority AS grp,
         CAST((CAST(o_orderdate AS DATE) - DATE '1970-01-01') - {LINREG_X0}
              AS BIGINT) AS x,
         CAST(round(o_totalprice * 100) AS BIGINT) AS y
  FROM orders
), s AS (
  SELECT grp,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(x * x) AS HUGEINT) AS sxx,
         CAST(sum(x * y) AS HUGEINT) AS sxy
  FROM base GROUP BY grp
)
SELECT grp, CAST(n AS BIGINT) AS n,
       floor(CAST(n*sxy - sx*sy AS DOUBLE)
             / nullif(CAST(n*sxx - sx*sx AS DOUBLE), 0.0)
             * 1000000 + 0.5) / 1000000 AS slope_cents_per_day,
       floor(CAST(sy*sxx - sx*sxy AS DOUBLE)
             / nullif(CAST(n*sxx - sx*sx AS DOUBLE), 0.0)
             * 1000000 + 0.5) / 1000000 AS intercept_cents
FROM s ORDER BY grp
"""


# ---------------------------------------------------------------------------
# Level-shift changepoint screen (rolling before/after window contrast)
# ---------------------------------------------------------------------------

LEVEL_SHIFT_W = 7  # observed-days window on each side of the candidate day


def q_x_level_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-shift changepoint screen over the per-type daily volumes.

    The monitoring sibling of q_x_volume_anomalies: instead of flagging
    single-day outliers against the global mean, contrast the total
    volume of the LEVEL_SHIFT_W observed days before each day with the
    window starting at the day itself — a sustained regime change
    (traffic migration, pipeline stall, source cutover) moves the whole
    window, not one point. A day is flagged when the relative contrast
    exceeds 30% of the pooled mean, tested integer-exactly by
    cross-multiplication: ``20*|next-prev| >= 3*(prev+next)`` — no
    float ever crosses the engine boundary.

    Windows count OBSERVED days (rows of the daily aggregate), not
    calendar days — densify with q_x_resample_ffill first if gap
    semantics matter. Scale: the window runs over the PRE-AGGREGATED
    (type, day) series — bounded by calendar x type cardinality at any
    raw-event volume — after one map-side-combinable count aggregate,
    the same shape as q_x_volume_anomalies.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("long").alias("n_rows"))
    w = W.partitionBy("event_type").orderBy("day")
    prev_w = w.rowsBetween(-LEVEL_SHIFT_W, -1)
    next_w = w.rowsBetween(0, LEVEL_SHIFT_W - 1)
    out = daily.select(
        "event_type",
        "day",
        "n_rows",
        F.sum("n_rows").over(prev_w).cast("long").alias("prev_total"),
        F.count("n_rows").over(prev_w).alias("_np"),
        F.sum("n_rows").over(next_w).cast("long").alias("next_total"),
        F.count("n_rows").over(next_w).alias("_nn"),
    ).where(
        (F.col("_np") == LEVEL_SHIFT_W) & (F.col("_nn") == LEVEL_SHIFT_W)
    )
    delta = F.col("next_total") - F.col("prev_total")
    return out.select(
        "event_type",
        "day",
        "n_rows",
        "prev_total",
        "next_total",
        delta.alias("delta"),
        (
            F.abs(delta) * 20 >= 3 * (F.col("prev_total") + F.col("next_total"))
        ).alias("is_shift"),
    ).orderBy("event_type", "day")


Q_X_LEVEL_SHIFT_SQL = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type, CAST(ts AS DATE)),
win AS (
  SELECT event_type, day, n_rows,
         CAST(sum(n_rows) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN {LEVEL_SHIFT_W} PRECEDING AND 1 PRECEDING)
              AS BIGINT) AS prev_total,
         count(n_rows) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN {LEVEL_SHIFT_W} PRECEDING AND 1 PRECEDING)
              AS _np,
         CAST(sum(n_rows) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN CURRENT ROW AND {LEVEL_SHIFT_W - 1} FOLLOWING)
              AS BIGINT) AS next_total,
         count(n_rows) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN CURRENT ROW AND {LEVEL_SHIFT_W - 1} FOLLOWING)
              AS _nn
  FROM daily)
SELECT event_type, day, n_rows, prev_total, next_total,
       next_total - prev_total AS delta,
       abs(next_total - prev_total) * 20 >= 3 * (prev_total + next_total)
         AS is_shift
FROM win WHERE _np = {LEVEL_SHIFT_W} AND _nn = {LEVEL_SHIFT_W}
ORDER BY event_type, day
"""


# ---------------------------------------------------------------------------
# Probability-calibration report (reliability bins + ECE numerators)
# ---------------------------------------------------------------------------

CALIB_N_BINS = 10


def q_x_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for a scored binary outcome — the
    model-monitoring readout behind expected-calibration-error (ECE):
    bucket predictions by score decile, compare the bucket's mean
    predicted probability with its observed positive rate.

    The score here is the engine-portable md5 grid over event ids
    (``pmod(md5_long(id), 1000) / 1000`` — a stand-in for a model
    score column, same device as q_x_sample_hash), the label is
    ``event_type = 'purchase'``. Everything emitted is integer-exact:
    per bin ``n``, positives, the milli-score sum, and the ECE
    numerator ``|1000*n_pos - sum_score_milli|`` (the bin's
    |accuracy-confidence| gap scaled by 1000*n) — the caller divides by
    1000*N once; no float average ever crosses the engine boundary
    (the round-5 grid-average gotcha).

    Scale: one map-only projection + one CALIB_N_BINS-row hash
    aggregate; map-side combinable, no window, no join.
    """
    ev = load_table(spark, sf_dir, "events")
    score_milli = F.pmod(md5_long(F.col("event_id").cast("string")), F.lit(1000))
    s = ev.select(
        (score_milli * CALIB_N_BINS).cast("long").alias("_sm1000"),
        score_milli.cast("long").alias("score_milli"),
        (F.col("event_type") == "purchase").cast("long").alias("label"),
    )
    return (
        s.groupBy(F.expr("_sm1000 div 1000").cast("long").alias("bin"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("label").cast("long").alias("n_pos"),
            F.sum("score_milli").cast("long").alias("sum_score_milli"),
        )
        .withColumn(
            "ece_num_milli",
            F.abs(F.lit(1000) * F.col("n_pos") - F.col("sum_score_milli")),
        )
        .orderBy("bin")
    )


Q_X_CALIBRATION_SQL = f"""
WITH s AS (
  SELECT CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT)
           % 1000 AS score_milli,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events)
SELECT CAST(score_milli * {CALIB_N_BINS} // 1000 AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(label) AS BIGINT) AS n_pos,
       CAST(sum(score_milli) AS BIGINT) AS sum_score_milli,
       CAST(abs(1000 * sum(label) - sum(score_milli)) AS BIGINT)
         AS ece_num_milli
FROM s GROUP BY 1 ORDER BY bin
"""


# ---------------------------------------------------------------------------
# SAX symbolization (PAA + rank breakpoints) of the daily order series
# ---------------------------------------------------------------------------

SAX_WEEK_DAYS = 7
SAX_ALPHABET = 4  # quartile symbols a..d


def q_x_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX-style symbolization of the daily order-volume series
    (Lin et al. 2003's PAA + breakpoint discretization, adapted to
    rank breakpoints for engine exactness).

    Piecewise Aggregate Approximation: calendar-aligned 7-day chunks
    (``epoch_day div 7``) reduce the daily series to one integer total
    per week; each chunk is then assigned one of SAX_ALPHABET symbols
    by QUARTILE RANK over the chunk totals (``ntile`` on the
    (total, chunk) total order) — rank breakpoints instead of the
    paper's Gaussian breakpoints, so the symbolization is exact
    integer/rank arithmetic in both engines (the z-normalized Gaussian
    variant needs mean/stddev floats that can straddle a bin edge).
    The symbol string is the standard motif-mining / similarity-search
    representation for long series.

    Scale: the chunk aggregate is map-side combinable on raw orders;
    the ntile window runs over the PRE-AGGREGATED weekly series —
    calendar-bounded cardinality (~52 rows/year) at any order volume.
    """
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate").isNotNull())
    weekly = o.groupBy(
        F.floor(F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")) / SAX_WEEK_DAYS)
        .cast("long")
        .alias("week")
    ).agg(F.count("*").cast("long").alias("paa_total"))
    q = F.ntile(SAX_ALPHABET).over(W.orderBy("paa_total", "week"))
    return (
        weekly.select("week", "paa_total", q.alias("quartile"))
        .withColumn(
            "symbol", F.substring(F.lit("abcd"), F.col("quartile"), 1)
        )
        .orderBy("week")
    )


Q_X_SAX_SQL = f"""
WITH weekly AS (
  SELECT CAST((CAST(o_orderdate AS DATE) - DATE '1970-01-01')
              // {SAX_WEEK_DAYS} AS BIGINT) AS week,
         CAST(count(*) AS BIGINT) AS paa_total
  FROM orders WHERE o_orderdate IS NOT NULL
  GROUP BY 1)
SELECT week, paa_total,
       ntile({SAX_ALPHABET}) OVER (ORDER BY paa_total, week) AS quartile,
       substr('abcd', ntile({SAX_ALPHABET}) OVER (ORDER BY paa_total, week), 1)
         AS symbol
FROM weekly ORDER BY week
"""


# ---------------------------------------------------------------------------
# Day-of-week seasonal decomposition (seasonal mean + residual)
# ---------------------------------------------------------------------------

def q_x_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-seasonality decomposition of the daily order series:
    ``observed = seasonal(dow) + residual`` — the STL-lite monitor that
    separates "Mondays are always low" from a genuinely anomalous
    Monday (the deseasonalized residual is what q_x_volume_anomalies /
    q_x_level_shift should really screen; this op emits it).

    Integer-exact: the seasonal component is the truncated milli-mean
    ``1000*sum div cnt`` per ISO weekday (Monday=1 on both engines:
    Spark ``weekday()+1`` == DuckDB ``isodow``), the residual is
    ``1000*n - seasonal_milli`` — pure BIGINT arithmetic. Scale: one
    map-side-combined daily count over raw orders, a 7-row seasonal
    aggregate broadcast back onto the calendar-bounded daily series.
    """
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate").isNotNull())
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count("*").cast("long").alias("n_orders")
    )
    daily = daily.withColumn("iso_dow", (F.weekday("day") + 1).cast("int"))
    dow = daily.groupBy("iso_dow").agg(
        F.sum("n_orders").alias("_s"), F.count("*").alias("_c")
    ).select("iso_dow", F.expr("1000 * _s div _c").alias("dow_mean_milli"))
    return (
        daily.join(F.broadcast(dow), "iso_dow")
        .select(
            "day",
            "iso_dow",
            "n_orders",
            "dow_mean_milli",
            (F.lit(1000) * F.col("n_orders") - F.col("dow_mean_milli")).alias(
                "resid_milli"
            ),
        )
        .orderBy("day")
    )


Q_X_SEASONAL_DECOMPOSE_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders WHERE o_orderdate IS NOT NULL
  GROUP BY 1),
d2 AS (SELECT day, n_orders, CAST(isodow(day) AS INT) AS iso_dow FROM daily),
dow AS (
  SELECT iso_dow, CAST(1000 * sum(n_orders) // count(*) AS BIGINT)
           AS dow_mean_milli
  FROM d2 GROUP BY iso_dow)
SELECT d.day, d.iso_dow, d.n_orders, w.dow_mean_milli,
       1000 * d.n_orders - w.dow_mean_milli AS resid_milli
FROM d2 d JOIN dow w USING (iso_dow)
ORDER BY d.day
"""


# ---------------------------------------------------------------------------
# Autocorrelation function of the daily order series
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 7


def q_x_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1..ACF_MAX_LAG) of the daily
    order-volume series — the seasonality detector that says WHICH
    period q_x_seasonal_decompose should remove (a weekly cycle shows
    as a lag-7 peak) and the stationarity screen before any
    forecasting model.

    One pass: the daily aggregate takes ACF_MAX_LAG lag columns from a
    single window over the calendar-bounded series, then ONE aggregate
    row computes every lag's Pearson correlation from exact BIGINT
    moment sums (count/sum/sum-of-products, map-side-combinable),
    unpacked to long form with ``stack`` — no per-lag rescan of the
    raw facts. Rounds at 6 decimals (the q_x_stat_aggs precedent);
    pair counts are exact BIGINTs.

    ANSI note: ``F.corr`` in aggregate position is NOT used — under
    Spark 4's default ANSI mode a constant series (zero variance at
    some lag) makes corr's internal division throw DIVIDE_BY_ZERO
    inside the aggregate, before any guard. The moment sums carry no
    division; the correlation is assembled afterwards behind a CASE
    guard that emits NULL on zero variance, matching DuckDB corr. The
    sums are order-independent integers, so engine and oracle agree
    bit-for-bit before the single float divide.
    """
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate").isNotNull())
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count("*").cast("long").alias("n")
    )
    w = W.orderBy("day")
    lags = [
        F.lag("n", L).over(w).alias(f"lag{L}")
        for L in range(1, ACF_MAX_LAG + 1)
    ]
    d2 = daily.select("n", *lags)
    aggs = []
    for L in range(1, ACF_MAX_LAG + 1):
        lag, n = F.col(f"lag{L}"), F.col("n")
        x = F.when(lag.isNotNull(), n)  # pair-wise: n only where lag exists
        aggs.append(F.count(lag).cast("long").alias(f"c{L}"))
        aggs.append(F.sum(x).alias(f"sx{L}"))
        aggs.append(F.sum(lag).alias(f"sy{L}"))
        aggs.append(F.sum(x * lag).alias(f"sxy{L}"))
        aggs.append(F.sum(x * x).alias(f"sxx{L}"))
        aggs.append(F.sum(lag * lag).alias(f"syy{L}"))
    one = d2.agg(*aggs)
    rs = []
    for L in range(1, ACF_MAX_LAG + 1):
        c, sx, sy, sxy, sxx, syy = (
            F.col(f"c{L}"),
            F.col(f"sx{L}"),
            F.col(f"sy{L}"),
            F.col(f"sxy{L}"),
            F.col(f"sxx{L}"),
            F.col(f"syy{L}"),
        )
        cov = c * sxy - sx * sy
        vx = c * sxx - sx * sx
        vy = c * syy - sy * sy
        rs.append(
            F.when(
                (vx > 0) & (vy > 0),
                F.round(
                    cov.cast("double")
                    / F.sqrt(vx.cast("double") * vy.cast("double")),
                    6,
                ),
            ).alias(f"r{L}")
        )
    one = one.select(
        *[F.col(f"c{L}") for L in range(1, ACF_MAX_LAG + 1)], *rs
    )
    stack_args = ", ".join(
        f"{L}, c{L}, r{L}" for L in range(1, ACF_MAX_LAG + 1)
    )
    return one.selectExpr(
        f"stack({ACF_MAX_LAG}, {stack_args}) AS (lag, n_pairs, acf)"
    ).orderBy("lag")


def _acf_oracle_sql() -> str:
    lag_cols = ",\n         ".join(
        f"lag(n, {L}) OVER (ORDER BY day) AS lag{L}"
        for L in range(1, ACF_MAX_LAG + 1)
    )
    # Same exact-BIGINT moment sums as the engine (see q_x_acf ANSI
    # note): per-lag CTE of six sums, correlation assembled behind the
    # identical zero-variance CASE guard.
    moment_ctes = [
        f"""m{L} AS (
  SELECT CAST(count(lag{L}) AS BIGINT) AS c,
         sum(CASE WHEN lag{L} IS NOT NULL THEN n END) AS sx,
         sum(lag{L}) AS sy,
         sum(CASE WHEN lag{L} IS NOT NULL THEN n * lag{L} END) AS sxy,
         sum(CASE WHEN lag{L} IS NOT NULL THEN n * n END) AS sxx,
         sum(lag{L} * lag{L}) AS syy
  FROM d2)"""
        for L in range(1, ACF_MAX_LAG + 1)
    ]
    selects = [
        f"""SELECT {L} AS lag, c AS n_pairs,
       CASE WHEN c * sxx - sx * sx > 0 AND c * syy - sy * sy > 0
            THEN round(CAST(c * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(c * sxx - sx * sx AS DOUBLE)
                              * CAST(c * syy - sy * sy AS DOUBLE)), 6)
       END AS acf
  FROM m{L}"""
        for L in range(1, ACF_MAX_LAG + 1)
    ]
    return (
        """WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
d2 AS (
  SELECT n,
         """
        + lag_cols
        + "\n  FROM daily),\n"
        + ",\n".join(moment_ctes)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY lag"
    )


Q_X_ACF_SQL = _acf_oracle_sql()


# ---------------------------------------------------------------------------
# Population Stability Index drift monitor (round 11)
# ---------------------------------------------------------------------------

def q_x_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event-type mix, first half of
    the stream's calendar vs the second — THE production drift monitor
    for categorical features (credit-scoring lineage; PSI > 0.2 is the
    conventional "investigate" line): a traffic-mix shift shows here
    before any volume total moves. Per-type rows carry the exact
    ref/cur counts and the per-type PSI term
    ``(p_cur − p_ref)·ln(p_cur / p_ref)`` with add-one (Laplace)
    smoothing over the K observed types, so a type absent from one
    period contributes a finite term and no division or log ever sees
    zero (ANSI discipline — no guard needed because smoothing makes
    the denominators ≥ 1 by construction).

    Plan shape: one conditional-sum aggregate over |types| keys
    (map-side combined) + two 1-row broadcast scalar attaches (the
    calendar bounds, then the period totals) — nothing grows with the
    stream but the first scan. The smoothed probabilities are floats
    by nature; the term lands on the shared floor(x·10⁶ + 0.5) micro
    grid, identical expression both engines.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    days = ev.select(F.to_date("ts").alias("day"), "event_type")
    bounds = days.agg(
        F.min("day").alias("_lo"), F.max("day").alias("_hi")
    )
    flagged = days.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        (
            F.datediff(F.col("day"), F.col("_lo")) * 2
            < F.datediff(F.col("_hi"), F.col("_lo"))
        ).alias("_is_ref"),
    )
    per_type = flagged.groupBy("event_type").agg(
        F.sum(F.col("_is_ref").cast("long")).alias("n_ref"),
        F.sum((~F.col("_is_ref")).cast("long")).alias("n_cur"),
    )
    totals = per_type.agg(
        F.sum("n_ref").alias("_tot_ref"),
        F.sum("n_cur").alias("_tot_cur"),
        F.count("*").alias("_k"),
    )
    j = per_type.crossJoin(F.broadcast(totals))
    p_ref = (F.col("n_ref") + 1).cast("double") / (
        F.col("_tot_ref") + F.col("_k")
    ).cast("double")
    p_cur = (F.col("n_cur") + 1).cast("double") / (
        F.col("_tot_cur") + F.col("_k")
    ).cast("double")
    term = (p_cur - p_ref) * F.log(p_cur / p_ref)
    return (
        j.select(
            "event_type",
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
            F.floor(term * 1000000 + F.lit(0.5)).cast("long").alias(
                "psi_term_micro"
            ),
        )
        .orderBy("event_type")
    )


Q_X_PSI_DRIFT_SQL = """
WITH days AS (
  SELECT CAST(ts AS DATE) AS day, event_type
  FROM events WHERE ts IS NOT NULL
), bounds AS (
  SELECT min(day) AS lo, max(day) AS hi FROM days
), flagged AS (
  SELECT event_type,
         (date_diff('day', b.lo, day) * 2 < date_diff('day', b.lo, b.hi))
           AS is_ref
  FROM days, bounds b
), per_type AS (
  SELECT event_type,
         CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_cur
  FROM flagged GROUP BY event_type
), totals AS (
  SELECT sum(n_ref) AS tot_ref, sum(n_cur) AS tot_cur,
         count(*) AS k
  FROM per_type
)
SELECT event_type, n_ref, n_cur,
       CAST(floor(((CAST(n_cur + 1 AS DOUBLE) / (t.tot_cur + t.k))
                    - (CAST(n_ref + 1 AS DOUBLE) / (t.tot_ref + t.k)))
                  * ln((CAST(n_cur + 1 AS DOUBLE) / (t.tot_cur + t.k))
                       / (CAST(n_ref + 1 AS DOUBLE) / (t.tot_ref + t.k)))
                  * 1000000 + 0.5) AS BIGINT) AS psi_term_micro
FROM per_type, totals t
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Chi-squared independence test (round 11)
# ---------------------------------------------------------------------------

def q_x_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared statistic for event_type × ISO day-of-week
    independence — the categorical-association screen behind feature
    selection and seasonality detection (a large chi² says the traffic
    mix depends on the weekday). One contingency aggregate over
    ≤ |types|·7 cells, margins re-aggregated from it, and the FULL
    grid (including zero-observed cells, which still contribute
    (0−e)²/e) materialized as the bounded cross of the two margin
    tables. Emitted PER CELL — expected count and the cell's chi²
    contribution on the floor(x·10⁶ + 0.5) micro grid — rather than as
    one summed statistic: a float total over the cells would be
    summation-order-sensitive between engines (the association-order
    discipline behind the integer-cents sums elsewhere — here the
    addends are irrational, so per-cell emission is the order-proof
    form), while each per-cell value is a single arithmetic
    expression, identical op-for-op in both; the user sums
    cell_chi2_micro for the statistic, and the per-cell view is the
    actually-useful artifact (WHICH cells deviate).

    Every expected count e = row_tot·col_tot/n is > 0 because margins
    come from observed rows only (ANSI-safe without guards); counts
    are exact BIGINTs. The margin-cross is a bounded broadcast nested
    loop by construction (≤ |types| × 7 rows).
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    obs = (
        ev.select(
            "event_type",
            (F.weekday(F.to_date("ts")) + 1).cast("int").alias("iso_dow"),
        )
        .groupBy("event_type", "iso_dow")
        .agg(F.count("*").cast("long").alias("o"))
    )
    row_m = obs.groupBy("event_type").agg(F.sum("o").alias("row_tot"))
    col_m = obs.groupBy("iso_dow").agg(F.sum("o").alias("col_tot"))
    n_tot = obs.agg(F.sum("o").alias("n"))
    grid = (
        row_m.crossJoin(F.broadcast(col_m))
        .join(F.broadcast(obs), ["event_type", "iso_dow"], "left")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "event_type",
            "iso_dow",
            F.coalesce("o", F.lit(0)).cast("long").alias("o"),
            "row_tot",
            "col_tot",
            "n",
        )
    )
    e = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col("n").cast(
        "double"
    )
    cell = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    return (
        grid.select(
            "event_type",
            "iso_dow",
            "o",
            F.col("row_tot").cast("long").alias("row_tot"),
            F.col("col_tot").cast("long").alias("col_tot"),
            F.floor(e * 1000000 + F.lit(0.5)).cast("long").alias("e_micro"),
            F.floor(cell * 1000000 + F.lit(0.5)).cast("long").alias(
                "cell_chi2_micro"
            ),
        )
        .orderBy("event_type", "iso_dow")
    )


Q_X_CHI2_INDEPENDENCE_SQL = """
WITH obs AS (
  SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS INT) AS iso_dow,
         CAST(count(*) AS BIGINT) AS o
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
), row_m AS (SELECT event_type, sum(o) AS row_tot FROM obs GROUP BY 1),
col_m AS (SELECT iso_dow, sum(o) AS col_tot FROM obs GROUP BY 1),
n_tot AS (SELECT sum(o) AS n FROM obs),
grid AS (
  SELECT r.event_type, c.iso_dow,
         CAST(coalesce(o.o, 0) AS BIGINT) AS o, r.row_tot, c.col_tot, t.n
  FROM row_m r CROSS JOIN col_m c
  LEFT JOIN obs o ON o.event_type = r.event_type AND o.iso_dow = c.iso_dow
  CROSS JOIN n_tot t
)
SELECT event_type, iso_dow, o,
       CAST(row_tot AS BIGINT) AS row_tot,
       CAST(col_tot AS BIGINT) AS col_tot,
       CAST(floor((CAST(row_tot * col_tot AS DOUBLE) / n)
                  * 1000000 + 0.5) AS BIGINT) AS e_micro,
       CAST(floor((CAST(o AS DOUBLE) - CAST(row_tot * col_tot AS DOUBLE) / n)
                  * (CAST(o AS DOUBLE) - CAST(row_tot * col_tot AS DOUBLE) / n)
                  / (CAST(row_tot * col_tot AS DOUBLE) / n)
                  * 1000000 + 0.5) AS BIGINT) AS cell_chi2_micro
FROM grid
ORDER BY event_type, iso_dow
"""


# ---------------------------------------------------------------------------
# classical statistical tests (round 11, wave 2)
#
# The reference computes no test statistics (its only aggregate is the
# per-vertex argmax, /root/reference/assembly_final.cpp:298-309); these are
# the hypothesis-test/effect-size operators a data-quality and experiment
# pipeline runs at corpus scale. Shared discipline:
#   * tie handling goes through AVERAGE ranks carried as integer
#     "double-ranks" dr = 2*rank_avg = 2*cum - cnt + 1, computed from the
#     per-distinct-value count table (bounded by |grid|, not |rows|) with
#     scale.two_phase_cumsum — no single-partition window at any corpus
#     size;
#   * moment sums accumulate as DECIMAL(38,0) (Spark) / HUGEINT (DuckDB):
#     exact until ~1e38, overflow-CHECKED (ANSI) rather than silently
#     wrapped beyond it;
#   * ratios of exact integers land on the integer-exact micro grid via
#     decimal division; genuinely-float statistics (t, z, rho) are one
#     identical IEEE-double expression tree in both engines, emitted as
#     floor(x*1e6 + 0.5) micro BIGINTs — round(x, 6) is NOT portable
#     (Spark rounds the shortest-decimal repr, DuckDB scale-multiplies;
#     the runs-test z landed exactly on such a boundary at sf0.01), and
#     decimal literals like 2.0 must be CAST(2 AS DOUBLE) in Spark SQL
#     or the chain silently runs in DECIMAL arithmetic.
# ---------------------------------------------------------------------------

def q_x_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman rank correlation between line-item quantity
    and discount, per return flag — the monotone-association screen that
    survives outliers and nonlinearity (Pearson on AVERAGE ranks is
    exactly the tie-corrected Spearman rho).

    Scale shape (round-13 cell-grid form): ranks never touch the fact
    table at all — ONE map-side-combined aggregate collapses the facts
    to the joint (qv, dv) contingency grid (<=550 cells per group), the
    two marginals carry the tie structure through per-group window
    cumsums (broadcast-bounded by the same contract as the grid), and
    the five moments are a count-weighted aggregate over the CELLS
    (sum(drx*dry) over rows == sum(cnt*drx*dry) over cells, exactly).
    DECIMAL(38,0)/HUGEINT sums keep them exact to ~7e8 rows/group
    (documented bound; past it the micro grid is unchanged by the
    last-digit loss a double would add). The DuckDB oracle deliberately
    keeps the original fact-row window formulation, so the grid algebra
    is checked against an independent derivation every round.
    """
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    # NO fan_out here (round 14 A/B, 1.78 vs 0.81 s): the cell partial
    # aggregate collapses 600k rows to <=1650 cells BEFORE any
    # exchange, so a round-robin fan-out ships the whole fact (plus its
    # retry-determinism local sort) for work the map-side combine does
    # in place.
    base = li.select(
        "l_returnflag",
        F.round(F.col("l_quantity")).cast("long").alias("qv"),
        F.round(F.col("l_discount") * 100).cast("long").alias("dv"),
    )
    # Round-13 rewrite (the q_x_kendall_tau device): the moments are
    # computable ENTIRELY on the joint (qv, dv) contingency-cell grid —
    # drx depends only on qv's marginal and dry only on dv's, so
    # sum(drx*dry) over rows = sum(cnt*drx*dry) over cells. One fact
    # scan builds the <=550-cell grid; the old form joined both rank
    # grids back onto every fact row and aggregated the full table.
    # The grid feeds three consumers (both marginals + the moment
    # aggregate), hence the eager localCheckpoint. Output is
    # bit-identical (same integer double-ranks, same DECIMAL sums).
    cells = (
        base.groupBy("l_returnflag", "qv", "dv")
        .agg(F.count("*").cast("long").alias("_cnt"))
        .localCheckpoint(eager=True)
    )
    # Marginal cumsums run as plain per-group windows (round 14): the
    # marginals are sub-grids of the contingency grid, and two lines
    # down BOTH are broadcast — the plan already asserts they are
    # driver-bounded, so a per-(l_returnflag) window over <=|grid| rows
    # carries the exact same boundedness contract. two_phase_cumsum on
    # a <=550-row input paid 3 extra driver jobs (range sample,
    # checkpoint, offset collect) per marginal for zero scale benefit.
    wq = (
        W.partitionBy("l_returnflag")
        .orderBy(F.col("qv").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    xm = cells.groupBy("l_returnflag", "qv").agg(
        F.sum("_cnt").cast("long").alias("_cq")
    )
    rq = xm.select(
        "l_returnflag", "qv",
        (F.lit(2) * F.sum("_cq").over(wq) - F.col("_cq") + 1)
        .cast("long").alias("_drx"),
    )
    wd = (
        W.partitionBy("l_returnflag")
        .orderBy(F.col("dv").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ym = cells.groupBy("l_returnflag", "dv").agg(
        F.sum("_cnt").cast("long").alias("_cd")
    )
    rd = ym.select(
        "l_returnflag", "dv",
        (F.lit(2) * F.sum("_cd").over(wd) - F.col("_cd") + 1)
        .cast("long").alias("_dry"),
    )
    joined = cells.join(F.broadcast(rq), ["l_returnflag", "qv"]).join(
        F.broadcast(rd), ["l_returnflag", "dv"]
    )
    d38 = "decimal(38,0)"
    c = F.col("_cnt").cast(d38)
    m = joined.groupBy("l_returnflag").agg(
        F.sum("_cnt").cast("long").alias("n"),
        F.sum(c * F.col("_drx")).alias("_sx"),
        F.sum(c * F.col("_dry")).alias("_sy"),
        F.sum(c * F.col("_drx") * F.col("_dry")).alias("_sxy"),
        F.sum(c * F.col("_drx") * F.col("_drx")).alias("_sxx"),
        F.sum(c * F.col("_dry") * F.col("_dry")).alias("_syy"),
    )
    rho = F.expr(
        "CASE WHEN n * _sxx - _sx * _sx > 0 AND n * _syy - _sy * _sy > 0"
        "     THEN CAST(floor(CAST(n * _sxy - _sx * _sy AS DOUBLE)"
        "                / sqrt(CAST(n * _sxx - _sx * _sx AS DOUBLE)"
        "                       * CAST(n * _syy - _sy * _sy AS DOUBLE))"
        "                * 1000000 + 0.5) AS BIGINT)"
        " END"
    )
    return m.select("l_returnflag", "n", rho.alias("rho_micro")).orderBy(
        "l_returnflag"
    )


Q_X_SPEARMAN_CORR_SQL = """
WITH base AS (
  SELECT l_returnflag,
         CAST(round(l_quantity) AS BIGINT) AS qv,
         CAST(round(l_discount * 100) AS BIGINT) AS dv
  FROM lineitem
), gq AS (
  SELECT l_returnflag, qv, CAST(count(*) AS BIGINT) AS cnt,
         sum(count(*)) OVER (PARTITION BY l_returnflag ORDER BY qv) AS cum
  FROM base GROUP BY 1, 2
), gd AS (
  SELECT l_returnflag, dv, CAST(count(*) AS BIGINT) AS cnt,
         sum(count(*)) OVER (PARTITION BY l_returnflag ORDER BY dv) AS cum
  FROM base GROUP BY 1, 2
), j AS (
  SELECT b.l_returnflag,
         CAST(2 * q.cum - q.cnt + 1 AS HUGEINT) AS drx,
         CAST(2 * d.cum - d.cnt + 1 AS HUGEINT) AS dry
  FROM base b
  JOIN gq q ON q.l_returnflag = b.l_returnflag AND q.qv = b.qv
  JOIN gd d ON d.l_returnflag = b.l_returnflag AND d.dv = b.dv
), m AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         sum(drx) AS sx, sum(dry) AS sy, sum(drx * dry) AS sxy,
         sum(drx * drx) AS sxx, sum(dry * dry) AS syy
  FROM j GROUP BY 1
)
SELECT l_returnflag, n,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN CAST(floor(CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * syy - sy * sy AS DOUBLE))
                       * 1000000 + 0.5) AS BIGINT)
       END AS rho_micro
FROM m
ORDER BY l_returnflag
"""


def q_x_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) comparing the `value`
    distribution of clicks vs purchases — THE nonparametric two-sample
    test, and (as AUC = U/(n1*n2)) the standard ranking-quality metric:
    the probability a random click value exceeds a random purchase
    value. Tie-corrected: average ranks via integer double-ranks, and
    the normal-approximation z uses the Sum(t^3 - t) tie correction.

    Everything derives from the per-distinct-cent count table (one
    groupBy, |grid| rows) + one two_phase_cumsum: 2*R1 = Sum over the
    grid of cnt_click * dr needs NO join back to the fact rows. u2 (=2*U1)
    and auc_micro are integer-exact (DECIMAL/HUGEINT algebra, decimal
    division onto the micro grid); z is one identical double expression.
    """
    from bigdatagenomic_spark.operators.scale import two_phase_cumsum

    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isin("click", "purchase")
    )
    base = ev.select(
        (F.col("event_type") == "click").cast("long").alias("_is1"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    dv = base.groupBy("v").agg(
        F.count("*").cast("long").alias("_cnt"),
        F.sum("_is1").cast("long").alias("_c1"),
    )
    cum = two_phase_cumsum(dv, "_cnt", [F.col("v").asc()], out_col="_cum")
    d38 = "decimal(38,0)"
    dr = (F.lit(2) * F.col("_cum") - F.col("_cnt") + 1).cast("long")
    m = cum.select("_cnt", "_c1", dr.alias("_dr")).agg(
        F.sum("_cnt").cast("long").alias("_n"),
        F.sum("_c1").cast("long").alias("n1"),
        F.sum(F.col("_c1").cast(d38) * F.col("_dr")).alias("_r1x2"),
        F.sum(
            F.col("_cnt").cast(d38) * F.col("_cnt") * F.col("_cnt") - F.col("_cnt")
        ).alias("_ties"),
    )
    return m.select(
        "n1",
        (F.col("_n") - F.col("n1")).alias("n2"),
        F.expr("CAST(_r1x2 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) AS BIGINT)").alias(
            "u2"
        ),
        F.expr(
            "CAST((_r1x2 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)) * 1000000"
            "     div (CAST(2 AS DECIMAL(38,0)) * n1 * (_n - n1)) AS BIGINT)"
        ).alias("auc_micro"),
        F.expr(
            "CASE WHEN n1 > 0 AND _n - n1 > 0 AND _n > 1"
            "      AND (_n + 1) - CAST(_ties AS DOUBLE)"
            "          / (CAST(_n AS DOUBLE) * (_n - 1)) > 0"
            "     THEN CAST(floor((CAST(_r1x2 - CAST(n1 AS DECIMAL(38,0))"
            "                           * (n1 + 1)"
            "                      AS DOUBLE) - CAST(n1 AS DOUBLE) * (_n - n1))"
            "                / sqrt(CAST(n1 AS DOUBLE) * (_n - n1) / 3.0"
            "                       * ((_n + 1) - CAST(_ties AS DOUBLE)"
            "                          / (CAST(_n AS DOUBLE) * (_n - 1))))"
            "                * 1000000 + 0.5) AS BIGINT)"
            " END"
        ).alias("z_micro"),
    )


Q_X_MANN_WHITNEY_SQL = """
WITH base AS (
  SELECT CAST(event_type = 'click' AS BIGINT) AS is1,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
), dv AS (
  SELECT v, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(is1) AS BIGINT) AS c1,
         sum(count(*)) OVER (ORDER BY v) AS cum
  FROM base GROUP BY v
), m AS (
  SELECT sum(cnt) AS n, sum(c1) AS n1,
         sum(CAST(c1 AS HUGEINT) * (2 * cum - cnt + 1)) AS r1x2,
         sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS ties
  FROM dv
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n - n1 AS BIGINT) AS n2,
       CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u2,
       CAST((r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1)) * 1000000
            // (CAST(2 AS HUGEINT) * n1 * (n - n1)) AS BIGINT) AS auc_micro,
       CASE WHEN n1 > 0 AND n - n1 > 0 AND n > 1
             AND (n + 1) - CAST(ties AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1)) > 0
            THEN CAST(floor((CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1)
                             AS DOUBLE)
                        - CAST(n1 AS DOUBLE) * (n - n1))
                       / sqrt(CAST(n1 AS DOUBLE) * (n - n1) / 3.0
                              * ((n + 1) - CAST(ties AS DOUBLE)
                                 / (CAST(n AS DOUBLE) * (n - 1))))
                       * 1000000 + 0.5) AS BIGINT)
       END AS z_micro
FROM m
"""


def q_x_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between the click and purchase
    `value` distributions — the distribution-shift alarm that sees
    SHAPE changes PSI's binned view smooths over. D = max |ECDF1 -
    ECDF2| evaluated only at observed grid points (where the sup is
    attained). Integer-exact: the ECDF difference is compared as the
    cross-multiplied |cum1*n2 - cum2*n1| (no float division inside the
    max), and ks_micro = d_num * 1e6 div (n1*n2) lands on the micro
    grid by decimal division.

    Scale shape: |grid| rows after the first groupBy; two chained
    two_phase_cumsum passes (click and purchase running counts share
    the same ordered grid); one min-wide aggregate. DECIMAL(38,0)/
    HUGEINT cross-products stay exact at any n1*n2 below ~1e38.
    """
    from bigdatagenomic_spark.operators.scale import two_phase_cumsum

    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isin("click", "purchase")
    )
    base = ev.select(
        (F.col("event_type") == "click").cast("long").alias("_is1"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    dv = base.groupBy("v").agg(
        F.sum("_is1").cast("long").alias("_c1"),
        (F.count("*") - F.sum("_is1")).cast("long").alias("_c2"),
    )
    cum1 = two_phase_cumsum(dv, "_c1", [F.col("v").asc()], out_col="_cum1")
    cum2 = two_phase_cumsum(cum1, "_c2", [F.col("v").asc()], out_col="_cum2")
    d38 = "decimal(38,0)"
    # totals = MAX of the inclusive cumsums, derived from cum2 (lineage
    # ends at two_phase_cumsum's checkpoint of its input) — a dv-rooted
    # total was a second consumer of the un-checkpointed aggregate and
    # replayed the events scan (round-13 fix)
    tot = cum2.agg(
        F.max("_cum1").cast("long").alias("n1"),
        F.max("_cum2").cast("long").alias("n2"),
    )
    m = (
        cum2.crossJoin(F.broadcast(tot))
        .select(
            "n1",
            "n2",
            F.abs(
                F.col("_cum1").cast(d38) * F.col("n2")
                - F.col("_cum2").cast(d38) * F.col("n1")
            ).alias("_d"),
        )
        .groupBy("n1", "n2")
        .agg(F.max("_d").alias("_dnum"))
    )
    return m.select(
        "n1",
        "n2",
        F.expr(
            "CAST(_dnum * 1000000 div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"
        ).alias("ks_micro"),
    )


Q_X_KS_TEST_SQL = """
WITH base AS (
  SELECT CAST(event_type = 'click' AS BIGINT) AS is1,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
), dv AS (
  SELECT v, CAST(sum(is1) AS BIGINT) AS c1,
         CAST(count(*) - sum(is1) AS BIGINT) AS c2
  FROM base GROUP BY v
), cums AS (
  SELECT sum(c1) OVER (ORDER BY v) AS cum1,
         sum(c2) OVER (ORDER BY v) AS cum2
  FROM dv
), tot AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM dv)
SELECT CAST(t.n1 AS BIGINT) AS n1, CAST(t.n2 AS BIGINT) AS n2,
       CAST(max(abs(CAST(c.cum1 AS HUGEINT) * t.n2
                    - CAST(c.cum2 AS HUGEINT) * t.n1)) * 1000000
            // (CAST(t.n1 AS HUGEINT) * t.n2) AS BIGINT) AS ks_micro
FROM cums c CROSS JOIN tot t
GROUP BY t.n1, t.n2
"""


def q_x_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on click vs purchase `value` —
    the default two-sample mean comparison (Student's equal-variance
    form is an anti-pattern when group sizes/variances differ, as
    funnel stages always do). One conditional-moment aggregate: n, sum,
    sum-of-squares per arm over integer cents, map-side combined.

    Means land exactly on the micro grid (cents * 1e6 div n, decimal
    division); t and the Welch-Satterthwaite df are one identical
    IEEE-double expression tree in both engines over those exact
    moments (sample variances via the (n*SS - S^2)/(n*(n-1)) form),
    emitted at round(x, 6).
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("event_type").isin("click", "purchase")
    )
    is1 = F.col("event_type") == "click"
    cents = F.round(F.col("value") * 100).cast("long")
    d38 = "decimal(38,0)"
    base = ev.select(is1.alias("_is1"), cents.alias("_v"))
    m = base.agg(
        F.sum(F.when(F.col("_is1"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(~F.col("_is1"), 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(F.col("_is1"), F.col("_v")).otherwise(0).cast(d38)).alias("_s1"),
        F.sum(F.when(~F.col("_is1"), F.col("_v")).otherwise(0).cast(d38)).alias("_s2"),
        F.sum(
            F.when(F.col("_is1"), F.col("_v") * F.col("_v")).otherwise(0).cast(d38)
        ).alias("_ss1"),
        F.sum(
            F.when(~F.col("_is1"), F.col("_v") * F.col("_v")).otherwise(0).cast(d38)
        ).alias("_ss2"),
    )
    var1 = (
        "(CAST(n1 AS DOUBLE) * CAST(_ss1 AS DOUBLE) - CAST(_s1 AS DOUBLE)"
        " * CAST(_s1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) * (n1 - 1))"
    )
    var2 = (
        "(CAST(n2 AS DOUBLE) * CAST(_ss2 AS DOUBLE) - CAST(_s2 AS DOUBLE)"
        " * CAST(_s2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) * (n2 - 1))"
    )
    se2 = f"(({var1}) / n1 + ({var2}) / n2)"
    return m.select(
        "n1",
        "n2",
        F.expr("CAST(_s1 * 1000000 div CAST(n1 AS DECIMAL(38,0)) AS BIGINT)").alias(
            "mean1_micro"
        ),
        F.expr("CAST(_s2 * 1000000 div CAST(n2 AS DECIMAL(38,0)) AS BIGINT)").alias(
            "mean2_micro"
        ),
        F.expr(
            f"CASE WHEN n1 > 1 AND n2 > 1 AND {se2} > 0"
            f"     THEN CAST(floor((CAST(_s1 AS DOUBLE) / n1"
            f"                      - CAST(_s2 AS DOUBLE) / n2)"
            f"                / sqrt({se2}) * 1000000 + 0.5) AS BIGINT) END"
        ).alias("t_micro"),
        F.expr(
            f"CASE WHEN n1 > 1 AND n2 > 1 AND {se2} > 0"
            f"     THEN CAST(floor({se2} * {se2}"
            f"                / ((({var1}) / n1) * (({var1}) / n1) / (n1 - 1)"
            f"                   + (({var2}) / n2) * (({var2}) / n2) / (n2 - 1))"
            f"                * 1000000 + 0.5) AS BIGINT)"
            f" END"
        ).alias("df_micro"),
    )


Q_X_WELCH_TTEST_SQL = """
WITH base AS (
  SELECT event_type = 'click' AS is1,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events
  WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
), m AS (
  SELECT CAST(sum(CASE WHEN is1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN is1 THEN 0 ELSE 1 END) AS BIGINT) AS n2,
         sum(CAST(CASE WHEN is1 THEN v ELSE 0 END AS HUGEINT)) AS s1,
         sum(CAST(CASE WHEN is1 THEN 0 ELSE v END AS HUGEINT)) AS s2,
         sum(CAST(CASE WHEN is1 THEN v * v ELSE 0 END AS HUGEINT)) AS ss1,
         sum(CAST(CASE WHEN is1 THEN 0 ELSE v * v END AS HUGEINT)) AS ss2
  FROM base
)
SELECT n1, n2,
       CAST(s1 * 1000000 // CAST(n1 AS HUGEINT) AS BIGINT) AS mean1_micro,
       CAST(s2 * 1000000 // CAST(n2 AS HUGEINT) AS BIGINT) AS mean2_micro,
       CASE WHEN n1 > 1 AND n2 > 1
             AND ((CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                  / (CAST(n1 AS DOUBLE) * (n1 - 1))) / n1
               + ((CAST(n2 AS DOUBLE) * CAST(ss2 AS DOUBLE)
                   - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
                  / (CAST(n2 AS DOUBLE) * (n2 - 1))) / n2 > 0
            THEN CAST(floor((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                       / sqrt(((CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE)
                                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                               / (CAST(n1 AS DOUBLE) * (n1 - 1))) / n1
                              + ((CAST(n2 AS DOUBLE) * CAST(ss2 AS DOUBLE)
                                  - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
                                 / (CAST(n2 AS DOUBLE) * (n2 - 1))) / n2)
                       * 1000000 + 0.5) AS BIGINT)
       END AS t_micro,
       CASE WHEN n1 > 1 AND n2 > 1
             AND ((CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                  / (CAST(n1 AS DOUBLE) * (n1 - 1))) / n1
               + ((CAST(n2 AS DOUBLE) * CAST(ss2 AS DOUBLE)
                   - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
                  / (CAST(n2 AS DOUBLE) * (n2 - 1))) / n2 > 0
            THEN CAST(floor(
              ((((CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                / (CAST(n1 AS DOUBLE) * (n1 - 1))) / n1
               + ((CAST(n2 AS DOUBLE) * CAST(ss2 AS DOUBLE)
                   - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
                  / (CAST(n2 AS DOUBLE) * (n2 - 1))) / n2)
              * (((CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                  / (CAST(n1 AS DOUBLE) * (n1 - 1))) / n1
                 + ((CAST(n2 AS DOUBLE) * CAST(ss2 AS DOUBLE)
                     - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
                    / (CAST(n2 AS DOUBLE) * (n2 - 1))) / n2)
              / ((((CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                   / (CAST(n1 AS DOUBLE) * (n1 - 1))) / n1)
                 * (((CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                     / (CAST(n1 AS DOUBLE) * (n1 - 1))) / n1) / (n1 - 1)
                 + (((CAST(n2 AS DOUBLE) * CAST(ss2 AS DOUBLE)
                      - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
                     / (CAST(n2 AS DOUBLE) * (n2 - 1))) / n2)
                   * (((CAST(n2 AS DOUBLE) * CAST(ss2 AS DOUBLE)
                        - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
                       / (CAST(n2 AS DOUBLE) * (n2 - 1))) / n2) / (n2 - 1)))
              * 1000000 + 0.5) AS BIGINT)
       END AS df_micro
FROM m
"""


def q_x_anova_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA variance decomposition of order value across the
    five priority classes — per-GROUP rows (class, n, exact mean,
    between-group and within-group sum-of-squares terms) rather than a
    single summed F statistic, for the same reason q_x_chi2_independence
    emits per-cell terms: a float total would be summation-order-
    sensitive between engines, while per-group terms are one
    deterministic double expression each (the F statistic is one
    driver-side fold over k<=5 rows, pinned by the property test).

    Plan: one conditional-moment groupBy (n, Sum x, Sum x^2 per class as
    DECIMAL(38,0) cents) + a 1-row broadcast of the grand totals.
    ssb_g = n_g*(mean_g - grand_mean)^2, ssw_g = SS_g - S_g^2/n_g,
    emitted as BIGINT whole dollars-squared via floor(x/1e4 + 0.5):
    round(x, 2) is NOT portable at these magnitudes (DuckDB's
    scale-multiply round loses ulps past 2^53/100; the floor form is
    the identical IEEE op chain in both engines at any magnitude).
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    d38 = "decimal(38,0)"
    per = (
        o.select("o_orderpriority", cents.alias("_v"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("_v").cast(d38)).alias("_s"),
            F.sum(F.col("_v").cast(d38) * F.col("_v")).alias("_ss"),
        )
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("_nn"),
        F.sum("_s").alias("_st"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "o_orderpriority",
            "n",
            F.expr("CAST(_s * 1000000 div CAST(n AS DECIMAL(38,0)) AS BIGINT)").alias(
                "mean_micro"
            ),
            F.expr(
                "CAST(floor(CAST(n AS DOUBLE)"
                "      * (CAST(_s AS DOUBLE) / n - CAST(_st AS DOUBLE) / _nn)"
                "      * (CAST(_s AS DOUBLE) / n - CAST(_st AS DOUBLE) / _nn)"
                "      / 10000 + 0.5) AS BIGINT)"
            ).alias("ssb_d2"),
            F.expr(
                "CAST(floor((CAST(_ss AS DOUBLE)"
                "      - CAST(_s AS DOUBLE) * CAST(_s AS DOUBLE) / n)"
                "      / 10000 + 0.5) AS BIGINT)"
            ).alias("ssw_d2"),
        )
        .orderBy("o_orderpriority")
    )


Q_X_ANOVA_DECOMP_SQL = """
WITH per AS (
  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT)) AS s,
         sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT)
             * CAST(round(o_totalprice * 100) AS BIGINT)) AS ss
  FROM orders GROUP BY 1
), tot AS (SELECT sum(n) AS nn, sum(s) AS st FROM per)
SELECT p.o_orderpriority, p.n,
       CAST(p.s * 1000000 // CAST(p.n AS HUGEINT) AS BIGINT) AS mean_micro,
       CAST(floor(CAST(p.n AS DOUBLE)
             * (CAST(p.s AS DOUBLE) / p.n - CAST(t.st AS DOUBLE) / t.nn)
             * (CAST(p.s AS DOUBLE) / p.n - CAST(t.st AS DOUBLE) / t.nn)
             / 10000 + 0.5) AS BIGINT) AS ssb_d2,
       CAST(floor((CAST(p.ss AS DOUBLE)
             - CAST(p.s AS DOUBLE) * CAST(p.s AS DOUBLE) / p.n)
             / 10000 + 0.5) AS BIGINT) AS ssw_d2
FROM per p CROSS JOIN tot t
ORDER BY p.o_orderpriority
"""


def q_x_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information decomposition between event type and ISO
    weekday — the information-theoretic companion to
    q_x_chi2_independence (same contingency scaffolding): per OBSERVED
    cell, the pointwise term (o/n)*ln(o*n/(row_tot*col_tot)) on the
    shared floor(x*1e6 + 0.5) micro grid (signed; floor(+0.5) is
    round-half-toward-+inf, the identical expression in both engines).
    Zero cells contribute exactly 0 to MI (x*ln(x) -> 0), so unlike the
    chi-squared grid they are correctly ABSENT rather than emitted.

    Plan: one (type x dow) count aggregate, two bounded margin
    re-aggregations of it, broadcast margin joins — nothing after the
    first scan grows with the stream.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    cells = (
        ev.select(
            "event_type",
            (F.weekday(F.to_date("ts")) + 1).cast("int").alias("iso_dow"),
        )
        .groupBy("event_type", "iso_dow")
        .agg(F.count("*").cast("long").alias("o"))
    )
    row_m = cells.groupBy("event_type").agg(F.sum("o").cast("long").alias("row_tot"))
    col_m = cells.groupBy("iso_dow").agg(F.sum("o").cast("long").alias("col_tot"))
    n_tot = cells.agg(F.sum("o").cast("long").alias("_n"))
    term = (
        "floor((CAST(o AS DOUBLE) / _n)"
        "      * ln(CAST(o AS DOUBLE) * _n"
        "           / (CAST(row_tot AS DOUBLE) * col_tot))"
        "      * 1000000 + 0.5)"
    )
    return (
        cells.join(F.broadcast(row_m), "event_type")
        .join(F.broadcast(col_m), "iso_dow")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "event_type",
            "iso_dow",
            "o",
            "row_tot",
            "col_tot",
            F.expr(term).cast("long").alias("mi_term_micro"),
        )
        .orderBy("event_type", "iso_dow")
    )


Q_X_MUTUAL_INFO_SQL = """
WITH cells AS (
  SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS INT) AS iso_dow,
         CAST(count(*) AS BIGINT) AS o
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
), row_m AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS row_tot
             FROM cells GROUP BY 1),
col_m AS (SELECT iso_dow, CAST(sum(o) AS BIGINT) AS col_tot
          FROM cells GROUP BY 1),
n_tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
SELECT c.event_type, c.iso_dow, c.o,
       r.row_tot, m.col_tot,
       CAST(floor((CAST(c.o AS DOUBLE) / t.n)
                  * ln(CAST(c.o AS DOUBLE) * t.n
                       / (CAST(r.row_tot AS DOUBLE) * m.col_tot))
                  * 1000000 + 0.5) AS BIGINT) AS mi_term_micro
FROM cells c
JOIN row_m r ON r.event_type = c.event_type
JOIN col_m m ON m.iso_dow = c.iso_dow
CROSS JOIN n_tot t
ORDER BY c.event_type, c.iso_dow
"""


DECAY_HALF_LIFE_DAYS = 30


def q_x_decay_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted (time-decay) value aggregate per event type —
    the feature-store staple (decayed click value, decayed spend) that
    EWMA-over-a-densified-calendar cannot express per-event. Weights
    are a BUCKETED half-life: w_micro(age) = 1e6 >> (age div 30), i.e.
    exact halving per 30-day bucket. Bucketing is the portability
    device: a per-row exp() weight rounds to the micro grid differently
    per libm ulp, and a float SUM is summation-order-sensitive between
    engines — the bucketed weight is an exact integer, so the decayed
    sum is one order-proof DECIMAL(38,0)/HUGEINT aggregate.

    Plan: 1-row calendar-max broadcast, then a single map-side-combined
    aggregate; nothing grows past the scan.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    hi = ev.agg(F.max(F.to_date("ts")).alias("_hi"))
    base = ev.crossJoin(F.broadcast(hi)).select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("_cents"),
        F.expr(
            "1000000 div shiftleft(CAST(1 AS BIGINT),"
            "    CAST(least(datediff(_hi, to_date(ts)) div 30, 62) AS INT))"
        ).alias("_w_micro"),
    )
    return (
        base.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("_cents").cast("decimal(38,0)")).cast("long").alias(
                "sum_cents"
            ),
            F.expr(
                "CAST(sum(CAST(_cents AS DECIMAL(38,0)) * _w_micro) AS BIGINT)"
            ).alias("decayed_microcents"),
        )
        .orderBy("event_type")
    )


Q_X_DECAY_AGG_SQL = """
WITH ev AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
         CAST(ts AS DATE) AS day
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
), hi AS (SELECT max(day) AS hi FROM ev)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(cents AS HUGEINT)) AS BIGINT) AS sum_cents,
       CAST(sum(CAST(cents AS HUGEINT)
                * (1000000 // (CAST(1 AS HUGEINT)
                               << CAST(least(datediff('day', day, h.hi) // 30,
                                             62) AS INT))))
            AS BIGINT) AS decayed_microcents
FROM ev CROSS JOIN hi h
GROUP BY event_type
ORDER BY event_type
"""


def q_x_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V effect size for the event_type x iso_dow contingency
    table — the single-number association strength the per-cell
    q_x_chi2_independence grid rolls up to (V in [0,1]; chi-squared
    alone grows with n, V is the n-free comparison across tables).

    The float chi-squared TOTAL is summation-order-sensitive, so both
    engines fold the bounded cell list IN SORTED ORDER: Spark sorts the
    collected struct array and folds with F.aggregate, DuckDB folds
    list(... ORDER BY ...) with list_reduce — the identical sequential
    IEEE double chain. Legitimate here ONLY because the cell grid is
    bounded (|types| x 7) — this is the portable-float-sum pattern for
    bounded lists, not a license to collect unbounded data.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    cells = (
        ev.select(
            "event_type",
            (F.weekday(F.to_date("ts")) + 1).cast("int").alias("iso_dow"),
        )
        .groupBy("event_type", "iso_dow")
        .agg(F.count("*").cast("long").alias("o"))
    )
    row_m = cells.groupBy("event_type").agg(F.sum("o").cast("long").alias("rt"))
    col_m = cells.groupBy("iso_dow").agg(F.sum("o").cast("long").alias("ct"))
    # full grid incl. zero-observed cells (they contribute e, not 0)
    grid = (
        row_m.crossJoin(col_m)
        .join(F.broadcast(cells), ["event_type", "iso_dow"], "left")
        .select(
            "event_type",
            "iso_dow",
            F.coalesce("o", F.lit(0)).cast("long").alias("o"),
            "rt",
            "ct",
        )
    )
    one = grid.agg(
        F.count("*").cast("long").alias("_cells"),
        F.countDistinct("event_type").cast("long").alias("r"),
        F.countDistinct("iso_dow").cast("long").alias("c"),
        F.sum("o").cast("long").alias("n"),
        F.array_sort(
            F.collect_list(F.struct("event_type", "iso_dow", "o", "rt", "ct"))
        ).alias("_cl"),
    )
    chi2 = F.expr(
        "aggregate(_cl, CAST(0.0 AS DOUBLE), (acc, x) ->"
        " acc + (CAST(x.o AS DOUBLE)"
        "        - CAST(x.rt AS DOUBLE) * x.ct / n)"
        "       * (CAST(x.o AS DOUBLE) - CAST(x.rt AS DOUBLE) * x.ct / n)"
        "       / (CAST(x.rt AS DOUBLE) * x.ct / n))"
    )
    folded = one.withColumn("_chi2_raw", chi2)
    micro = lambda c: F.floor(c * 1000000 + F.lit(0.5)).cast("long")
    return folded.select(
        "n",
        "r",
        "c",
        micro(F.col("_chi2_raw")).alias("chi2_micro"),
        F.when(
            (F.least("r", "c") > 1) & (F.col("n") > 0),
            micro(
                F.sqrt(
                    F.col("_chi2_raw")
                    / (F.col("n").cast("double") * (F.least("r", "c") - 1))
                )
            ),
        ).alias("cramers_v_micro"),
    )


Q_X_CRAMERS_V_SQL = """
WITH cells AS (
  SELECT event_type, CAST(isodow(CAST(ts AS DATE)) AS INT) AS iso_dow,
         CAST(count(*) AS BIGINT) AS o
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), row_m AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
             FROM cells GROUP BY 1),
col_m AS (SELECT iso_dow, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
grid AS (
  SELECT r.event_type, c.iso_dow,
         CAST(coalesce(x.o, 0) AS BIGINT) AS o, r.rt, c.ct
  FROM row_m r CROSS JOIN col_m c
  LEFT JOIN cells x ON x.event_type = r.event_type AND x.iso_dow = c.iso_dow
), one AS (
  SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS r,
         CAST(count(DISTINCT iso_dow) AS BIGINT) AS c,
         CAST(sum(o) AS BIGINT) AS n,
         list({'event_type': event_type, 'iso_dow': iso_dow,
               'o': o, 'rt': rt, 'ct': ct}
              ORDER BY event_type, iso_dow) AS cl
  FROM grid
)
SELECT n, r, c,
       CAST(floor(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(cl, x ->
                   (CAST(x.o AS DOUBLE) - CAST(x.rt AS DOUBLE) * x.ct / n)
                   * (CAST(x.o AS DOUBLE) - CAST(x.rt AS DOUBLE) * x.ct / n)
                   / (CAST(x.rt AS DOUBLE) * x.ct / n))),
               (acc, v) -> acc + v) * 1000000 + 0.5) AS BIGINT) AS chi2_micro,
       CASE WHEN least(r, c) > 1 AND n > 0 THEN
         CAST(floor(sqrt(list_reduce(
                 list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(cl, x ->
                     (CAST(x.o AS DOUBLE) - CAST(x.rt AS DOUBLE) * x.ct / n)
                     * (CAST(x.o AS DOUBLE) - CAST(x.rt AS DOUBLE) * x.ct / n)
                     / (CAST(x.rt AS DOUBLE) * x.ct / n))),
                 (acc, v) -> acc + v)
               / (CAST(n AS DOUBLE) * (least(r, c) - 1)))
               * 1000000 + 0.5) AS BIGINT) END AS cramers_v_micro
FROM one
"""


def q_x_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM control track of daily event volume — the
    classic sequential changepoint monitor (Page 1954): S_t =
    max(0, S_{t-1} + dev_t) accumulates sustained positive drift and
    resets on dips, firing long before a 3-sigma day exists
    (q_x_volume_anomalies' blind spot: many small shifts, no big one).

    The recursion is NOT a cumsum, but it has the closed scan form
    S_t = cum_t - min(0, min_{i<=t} cum_i): one two_phase_cumsum of
    integer milli-deviations + one two_phase_prefix_max of the negated
    running sum (MIN via MAX of the negation — prefix-max is the
    record-detection primitive, reused) — all order-proof integers, no
    single-partition window, no recursion at any day count.
    """
    from bigdatagenomic_spark.operators.scale import (
        two_phase_cumsum,
        two_phase_prefix_max,
    )

    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    # deliberately NOT checkpointed: the round-14 shuffle_audit measured
    # ~1 events scan here already — shuffle-stage reuse serves every
    # consumer (tot + the cumsum's sample/shuffle) from the daily agg's
    # exchange (SCALING.md Part 15 addendum)
    daily = (
        ev.select(F.to_date("ts").alias("day"))
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = daily.agg(
        F.sum("n").cast("long").alias("_tot"),
        F.count("*").cast("long").alias("_days"),
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n",
        F.expr("1000 * n - 1000 * _tot div _days").cast("long").alias("_dev"),
    )
    cum = two_phase_cumsum(dev, "_dev", [F.col("day").asc()], out_col="_cum")
    neg = cum.withColumn("_neg", -F.col("_cum"))
    pm = two_phase_prefix_max(
        neg, "_neg", [F.col("day").asc()], out_col="_pmax", inclusive=True
    )
    return pm.select(
        "day",
        "n",
        F.col("_cum").alias("cum_dev_milli"),
        F.expr("_cum - least(CAST(0 AS BIGINT), -_pmax)")
        .cast("long")
        .alias("cusum_milli"),
    ).orderBy("day")


Q_X_CUSUM_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
                  CAST(count(*) AS BIGINT) AS days FROM daily),
dev AS (
  SELECT day, n,
         CAST(1000 * n - 1000 * t.tot // t.days AS BIGINT) AS dv
  FROM daily CROSS JOIN tot t
), track AS (
  SELECT day, n, CAST(sum(dv) OVER (ORDER BY day) AS BIGINT) AS cum
  FROM dev
), track2 AS (
  SELECT day, n, cum,
         CAST(min(cum) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                                                   AND CURRENT ROW)
              AS BIGINT) AS pmin
  FROM track
)
SELECT day, n, cum AS cum_dev_milli,
       CAST(cum - least(CAST(0 AS BIGINT), pmin) AS BIGINT) AS cusum_milli
FROM track2
ORDER BY day
"""


def q_x_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of the daily-volume
    sequence: label each day above/below the corpus mean (mean-equal
    days drop, the standard convention), count the runs of equal
    labels, and compare to the null expectation mu = 2*n1*n2/n + 1 —
    too FEW runs means regime clustering (autocorrelation, the usual
    truth), too MANY means oscillation (load-balancer flapping,
    dithered samplers). The randomness sanity check behind every
    "can I treat days as i.i.d." bootstrap assumption.

    The above/below label is an exact integer comparison
    (n_t * n_days vs total), runs count by one lag over the
    calendar-bounded daily series (the q_x_acf/sax precedent: the
    window's row count is bounded by the CALENDAR, not the corpus);
    n1/n2/runs are exact, z is one identical double expression.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    # deliberately NOT checkpointed: the round-14 shuffle_audit measured
    # exactly 1 events scan here — shuffle-stage reuse serves both the
    # totals aggregate and the lag chain from the daily agg's exchange
    # (SCALING.md Part 15 addendum)
    daily = (
        ev.select(F.to_date("ts").alias("day"))
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = daily.agg(
        F.sum("n").cast("long").alias("_tot"),
        F.count("*").cast("long").alias("_days"),
    )
    lab = (
        daily.crossJoin(F.broadcast(tot))
        .where(F.col("n") * F.col("_days") != F.col("_tot"))
        .select(
            "day",
            (F.col("n") * F.col("_days") > F.col("_tot"))
            .cast("int")
            .alias("_b"),
        )
    )
    w = W.orderBy("day")
    runs_flag = F.when(
        F.lag("_b").over(w).isNull() | (F.lag("_b").over(w) != F.col("_b")), 1
    ).otherwise(0)
    m = lab.select("_b", runs_flag.alias("_r")).agg(
        F.coalesce(F.sum("_b"), F.lit(0)).cast("long").alias("n1"),
        (F.count("*") - F.coalesce(F.sum("_b"), F.lit(0)))
        .cast("long")
        .alias("n2"),
        F.coalesce(F.sum("_r"), F.lit(0)).cast("long").alias("runs"),
    )
    return m.select(
        "n1",
        "n2",
        "runs",
        F.expr(
            "CASE WHEN n1 > 0 AND n2 > 0 AND (n1 + n2) > 1"
            "      AND CAST(2 AS DOUBLE) * n1 * n2"
            "          * (CAST(2 AS DOUBLE) * n1 * n2 - (n1 + n2)) > 0"
            "     THEN CAST(floor((runs - (CAST(2 AS DOUBLE) * n1 * n2"
            "                              / (n1 + n2) + 1))"
            "           / sqrt(CAST(2 AS DOUBLE) * n1 * n2"
            "                  * (CAST(2 AS DOUBLE) * n1 * n2 - (n1 + n2))"
            "                  / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)"
            "                     * (n1 + n2 - 1))) * 1000000 + 0.5)"
            "          AS BIGINT) END"
        ).alias("z_micro"),
    )


Q_X_RUNS_TEST_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1
), tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
                  CAST(count(*) AS BIGINT) AS days FROM daily),
lab AS (
  SELECT day, CAST(n * t.days > t.tot AS INT) AS b
  FROM daily CROSS JOIN tot t
  WHERE n * t.days <> t.tot
), flags AS (
  SELECT b, CASE WHEN lag(b) OVER (ORDER BY day) IS NULL
                   OR lag(b) OVER (ORDER BY day) <> b THEN 1 ELSE 0 END AS r
  FROM lab
), m AS (
  SELECT CAST(coalesce(sum(b), 0) AS BIGINT) AS n1,
         CAST(count(*) - coalesce(sum(b), 0) AS BIGINT) AS n2,
         CAST(coalesce(sum(r), 0) AS BIGINT) AS runs
  FROM flags
)
SELECT n1, n2, runs,
       CASE WHEN n1 > 0 AND n2 > 0 AND (n1 + n2) > 1
             AND CAST(2 AS DOUBLE) * n1 * n2
                 * (CAST(2 AS DOUBLE) * n1 * n2 - (n1 + n2)) > 0
            THEN CAST(floor((runs - (CAST(2 AS DOUBLE) * n1 * n2
                                     / (n1 + n2) + 1))
                  / sqrt(CAST(2 AS DOUBLE) * n1 * n2
                         * (CAST(2 AS DOUBLE) * n1 * n2 - (n1 + n2))
                         / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)
                            * (n1 + n2 - 1))) * 1000000 + 0.5)
                 AS BIGINT) END AS z_micro
FROM m
"""


def q_x_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard curve over user LIFETIMES (days
    between a user's first and last observed event) — the retention/
    churn survival readout: H(t) jumps by d_t/n_t at each observed
    lifetime t (d = users ending at t, n = users still at risk), and
    S(t) ~ exp(-H(t)). Nelson-Aalen rather than Kaplan-Meier because
    the hazard is a SUM, not a product: each jump quantizes to the
    integer micro grid (d*1e6 div n) and the running total is an
    order-proof integer cumsum — a float K-M product would be
    libm/order-sensitive between engines.

    Plan: one (user) min/max aggregate, one lifetime-grid count
    (|grid| <= calendar days), at-risk counts by reverse-cumulative
    algebra (n_t = total - cum_exclusive), hazard cumsum via
    two_phase_cumsum. Nothing after the first aggregate exceeds the
    lifetime grid.
    """
    from bigdatagenomic_spark.operators.scale import two_phase_cumsum

    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    lives = (
        ev.select("user_id", F.to_date("ts").alias("day"))
        .groupBy("user_id")
        .agg(F.datediff(F.max("day"), F.min("day")).cast("long").alias("lt"))
    )
    # pin (round-14 shuffle_audit, SCALING.md Part 15 addendum): unlike
    # the single-exchange daily grids, this grid sits TWO exchanges deep
    # (user min/max agg -> lifetime count), and the measured cost
    # without the pin was a full second events scan (200k -> 100k input
    # records with it). pin_counted, so the cumsum's own pin reuses it.
    grid, _ = pin_counted(
        lives.groupBy("lt").agg(F.count("*").cast("long").alias("d"))
    )
    tot = grid.agg(F.sum("d").cast("long").alias("_n"))
    cum = two_phase_cumsum(grid, "d", [F.col("lt").asc()], out_col="_cum")
    base = cum.crossJoin(F.broadcast(tot)).select(
        "lt",
        "d",
        (F.col("_n") - F.col("_cum") + F.col("d")).cast("long").alias("at_risk"),
    )
    haz = base.withColumn(
        "_h", F.expr("d * 1000000 div at_risk").cast("long")
    )
    out = two_phase_cumsum(haz, "_h", [F.col("lt").asc()], out_col="cum_hazard_micro")
    return out.select("lt", "d", "at_risk", "cum_hazard_micro").orderBy("lt")


Q_X_SURVIVAL_SQL = """
WITH lives AS (
  SELECT user_id,
         CAST(datediff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE)))
              AS BIGINT) AS lt
  FROM events WHERE ts IS NOT NULL GROUP BY user_id
), grid AS (
  SELECT lt, CAST(count(*) AS BIGINT) AS d FROM lives GROUP BY lt
), tot AS (SELECT CAST(sum(d) AS BIGINT) AS n FROM grid),
base AS (
  SELECT lt, d,
         CAST(t.n - sum(d) OVER (ORDER BY lt) + d AS BIGINT) AS at_risk
  FROM grid CROSS JOIN tot t
), haz AS (
  SELECT lt, d, at_risk, CAST(d * 1000000 // at_risk AS BIGINT) AS h
  FROM base
)
SELECT lt, d, at_risk,
       CAST(sum(h) OVER (ORDER BY lt) AS BIGINT) AS cum_hazard_micro
FROM haz
ORDER BY lt
"""


def q_x_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of supplier share per
    part — the market-concentration metric (antitrust lineage; HHI
    above 0.25 is 'highly concentrated') applied to supply-chain risk:
    a part whose line-item volume concentrates in one supplier is a
    single point of failure. HHI = Sum over suppliers of share^2,
    integer-exact: hhi_micro = Sum(cnt_i^2) * 1e6 div tot^2 via
    DECIMAL(38,0)/HUGEINT (sum of squares and total are both exact,
    no per-share float ever exists).

    Plan: one (part, supplier) count, one per-part sum-of-squares
    re-aggregate — two map-side-combined shuffles on well-distributed
    keys; parts with a single line item trivially score 1e6. Output
    bounded to parts with >= 5 line items (the screen's noise floor).
    """
    li = load_table(spark, sf_dir, "lineitem")
    cell = li.groupBy("l_partkey", "l_suppkey").agg(
        F.count("*").cast("long").alias("_c")
    )
    d38 = "decimal(38,0)"
    per_part = cell.groupBy("l_partkey").agg(
        F.sum("_c").cast("long").alias("n"),
        F.countDistinct("l_suppkey").cast("long").alias("n_suppliers"),
        F.sum(F.col("_c").cast(d38) * F.col("_c")).alias("_ss"),
    )
    return (
        per_part.where(F.col("n") >= 5)
        .select(
            "l_partkey",
            "n",
            "n_suppliers",
            F.expr(
                "CAST(_ss * 1000000 div (CAST(n AS DECIMAL(38,0)) * n)"
                "     AS BIGINT)"
            ).alias("hhi_micro"),
        )
        .orderBy("l_partkey")
    )


Q_X_HHI_SQL = """
WITH cell AS (
  SELECT l_partkey, l_suppkey, CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
), per_part AS (
  SELECT l_partkey, CAST(sum(c) AS BIGINT) AS n,
         CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
         sum(CAST(c AS HUGEINT) * c) AS ss
  FROM cell GROUP BY l_partkey
)
SELECT l_partkey, n, n_suppliers,
       CAST(ss * 1000000 // (CAST(n AS HUGEINT) * n) AS BIGINT) AS hhi_micro
FROM per_part
WHERE n >= 5
ORDER BY l_partkey
"""


def q_x_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily Shannon entropy of the event-type mix — the one-number
    daily diversity monitor next to q_x_psi_drift's two-period view: a
    day whose traffic collapses into one type (incident, bot flood)
    craters the entropy long before volume moves. Per day: n, the
    number of active types, and H = -Sum p ln p plus the normalized
    H/ln(k) evenness, both on the floor-micro grid.

    The per-day type list is BOUNDED (|event types|), so the float sum
    uses the q_x_cramers_v device: fold the SORTED collected struct
    list sequentially — identical IEEE chain in both engines, never an
    unordered float aggregate.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    cells = (
        ev.select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day", "event_type")
        .agg(F.count("*").cast("long").alias("c"))
    )
    per_day = cells.groupBy("day").agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.array_sort(F.collect_list(F.struct("event_type", "c"))).alias("_cl"),
    )
    h = F.expr(
        "aggregate(_cl, CAST(0.0 AS DOUBLE), (acc, x) ->"
        " acc - (CAST(x.c AS DOUBLE) / n) * ln(CAST(x.c AS DOUBLE) / n))"
    )
    folded = per_day.withColumn("_h", h)
    return (
        folded.select(
            "day",
            "n",
            "k",
            F.floor(F.col("_h") * 1000000 + F.lit(0.5)).cast("long").alias(
                "entropy_micro"
            ),
            F.when(
                F.col("k") > 1,
                F.floor(
                    F.col("_h") / F.log(F.col("k").cast("double")) * 1000000
                    + F.lit(0.5)
                ).cast("long"),
            )
            .otherwise(F.lit(0))
            .alias("evenness_micro"),
        )
        .orderBy("day")
    )


Q_X_MIX_ENTROPY_SQL = """
WITH cells AS (
  SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS c
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), per_day AS (
  SELECT day, CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
         list({'event_type': event_type, 'c': c}
              ORDER BY event_type, c) AS cl
  FROM cells GROUP BY day
), folded AS (
  SELECT day, n, k,
         list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(cl, x ->
               -(CAST(x.c AS DOUBLE) / n) * ln(CAST(x.c AS DOUBLE) / n))),
           (acc, v) -> acc + v) AS h
  FROM per_day
)
SELECT day, n, k,
       CAST(floor(h * 1000000 + 0.5) AS BIGINT) AS entropy_micro,
       CASE WHEN k > 1
            THEN CAST(floor(h / ln(CAST(k AS DOUBLE)) * 1000000 + 0.5)
                      AS BIGINT)
            ELSE 0 END AS evenness_micro
FROM folded
ORDER BY day
"""


# ---------------------------------------------------------------------------
# round 13: Kendall tau-b rank correlation (Kendall 1938; tau-b tie
# correction per Kendall 1945) and Theil-Sen robust slope (Theil 1950,
# Sen 1968) — the concordance-based companions to q_x_spearman_corr and
# q_x_linreg.
# ---------------------------------------------------------------------------


def q_x_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between line-item quantity and
    discount per return flag — the concordance-probability association
    measure (same variables as q_x_spearman_corr so the two screens
    read side by side; tau-b's tie correction handles the heavy
    discount ties that raw tau-a would dilute).

    Scale shape: the fact table collapses to the (flag, qv, dv)
    CONTINGENCY CELL grid first (<=50 quantities x <=11 discount points
    = <=550 cells per group), and concordance is counted on cell PAIRS,
    never row pairs: C - D = sum over cell pairs with qv2 > qv1 and
    dv2 <> dv1 of sign(dv2 - dv1) * n1 * n2 — a broadcast self equi-join
    on the flag key with range predicates, <=550^2 pair rows per group
    at ANY fact volume (the O(n log n) merge-sort trick is unnecessary
    once ties compress the domain this hard). Tie terms n1/n2 come from
    the two marginals; everything accumulates in DECIMAL(38,0)/HUGEINT
    (exact to ~1e19 pair products), and only the final tau divides,
    floor-snapped onto the micro grid inside a positivity CASE guard —
    the q_x_spearman_corr device.

    References: reference has no statistics surface (assembly_final.cpp
    is a genome assembler); this extends SURVEY §2.C's statistical-test
    family.
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        F.round(F.col("l_quantity")).cast("long").alias("qv"),
        F.round(F.col("l_discount") * 100).cast("long").alias("dv"),
    )
    # localCheckpoint the cell grid: it feeds FOUR consumers (both join
    # sides, xm, ym) and the static plan would otherwise replay the
    # fact scan + aggregate for each — the q_dedup_kmv lesson; the
    # x1/x10/x100 sweep measured the un-checkpointed form at 28.5x
    # wall at x100, the checkpointed grid is <=550 rows x 3 groups
    cells = (
        base.groupBy("l_returnflag", "qv", "dv")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    d38 = "decimal(38,0)"
    a = cells.select(
        "l_returnflag",
        F.col("qv").alias("qv1"),
        F.col("dv").alias("dv1"),
        F.col("cnt").alias("n1c"),
    )
    b = cells.select(
        "l_returnflag",
        F.col("qv").alias("qv2"),
        F.col("dv").alias("dv2"),
        F.col("cnt").alias("n2c"),
    )
    sgn = F.when(F.col("dv2") > F.col("dv1"), F.lit(1)).otherwise(F.lit(-1))
    cd = (
        a.join(F.broadcast(b), "l_returnflag")
        .where((F.col("qv2") > F.col("qv1")) & (F.col("dv2") != F.col("dv1")))
        .groupBy("l_returnflag")
        .agg(
            F.sum(
                sgn.cast(d38) * F.col("n1c") * F.col("n2c")
            ).alias("_cd")
        )
    )
    xm = (
        cells.groupBy("l_returnflag", "qv")
        .agg(F.sum("cnt").cast("long").alias("_cq"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(
                F.col("_cq").cast(d38) * (F.col("_cq") - 1)
            ).alias("_tx2"),
            F.sum("_cq").cast("long").alias("n"),
        )
    )
    ym = (
        cells.groupBy("l_returnflag", "dv")
        .agg(F.sum("cnt").cast("long").alias("_cd2"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(
                F.col("_cd2").cast(d38) * (F.col("_cd2") - 1)
            ).alias("_ty2")
        )
    )
    m = cd.join(F.broadcast(xm), "l_returnflag").join(
        F.broadcast(ym), "l_returnflag"
    )
    # n0 = n(n-1)/2; tie terms tx = sum cq(cq-1)/2, ty likewise; all
    # doubled here (x2) so nothing ever divides by 2 before the guard
    tau = F.expr(
        "CASE WHEN CAST(n AS DECIMAL(38,0)) * (n - 1) - _tx2 > 0"
        "      AND CAST(n AS DECIMAL(38,0)) * (n - 1) - _ty2 > 0"
        "     THEN CAST(floor(2.0 * CAST(_cd AS DOUBLE)"
        "                / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * (n - 1)"
        "                            - _tx2 AS DOUBLE)"
        "                       * CAST(CAST(n AS DECIMAL(38,0)) * (n - 1)"
        "                              - _ty2 AS DOUBLE))"
        "                * 1000000 + 0.5) AS BIGINT)"
        " END"
    )
    return m.select("l_returnflag", "n", tau.alias("tau_micro")).orderBy(
        "l_returnflag"
    )


Q_X_KENDALL_TAU_SQL = """
WITH base AS (
  SELECT l_returnflag,
         CAST(round(l_quantity) AS BIGINT) AS qv,
         CAST(round(l_discount * 100) AS BIGINT) AS dv
  FROM lineitem
), cells AS (
  SELECT l_returnflag, qv, dv, CAST(count(*) AS BIGINT) AS cnt
  FROM base GROUP BY 1, 2, 3
), cd AS (
  SELECT a.l_returnflag,
         sum(CAST(CASE WHEN b.dv > a.dv THEN 1 ELSE -1 END AS HUGEINT)
             * a.cnt * b.cnt) AS cdv
  FROM cells a JOIN cells b
    ON b.l_returnflag = a.l_returnflag
   AND b.qv > a.qv AND b.dv <> a.dv
  GROUP BY 1
), xm AS (
  SELECT l_returnflag, sum(CAST(cq AS HUGEINT) * (cq - 1)) AS tx2,
         CAST(sum(cq) AS BIGINT) AS n
  FROM (SELECT l_returnflag, qv, CAST(sum(cnt) AS BIGINT) AS cq
        FROM cells GROUP BY 1, 2) GROUP BY 1
), ym AS (
  SELECT l_returnflag, sum(CAST(cd2 AS HUGEINT) * (cd2 - 1)) AS ty2
  FROM (SELECT l_returnflag, dv, CAST(sum(cnt) AS BIGINT) AS cd2
        FROM cells GROUP BY 1, 2) GROUP BY 1
)
SELECT cd.l_returnflag, xm.n,
       CASE WHEN CAST(xm.n AS HUGEINT) * (xm.n - 1) - xm.tx2 > 0
             AND CAST(xm.n AS HUGEINT) * (xm.n - 1) - ym.ty2 > 0
            THEN CAST(floor(2.0 * CAST(cd.cdv AS DOUBLE)
                       / sqrt(CAST(CAST(xm.n AS HUGEINT) * (xm.n - 1)
                                   - xm.tx2 AS DOUBLE)
                              * CAST(CAST(xm.n AS HUGEINT) * (xm.n - 1)
                                     - ym.ty2 AS DOUBLE))
                       * 1000000 + 0.5) AS BIGINT)
       END AS tau_micro
FROM cd JOIN xm USING (l_returnflag) JOIN ym USING (l_returnflag)
ORDER BY l_returnflag
"""


# 10 years: past this the per-type day-pair table leaves "one
# executor's work" territory (~6.6M pairs at 3653 days; 100 years
# would be ~670M). Shared by every O(days^2) pairwise-over-the-
# calendar estimator (theil_sen, mann_kendall).
_THEIL_SEN_MAX_SPAN_DAYS = 3653


def _guard_day_span(daily: DataFrame, op: str) -> None:
    """Fail-loud contract guard (VERDICT r13 #4) for O(days^2) day-pair
    estimators: one 1-row aggregate on the ALREADY-materialized daily
    grid (bounded driver read, the assembly.py path-walk precedent)
    raises before any over-contract pair table can be built."""
    span_row = (
        daily.groupBy("event_type")
        .agg(F.datediff(F.max("day"), F.min("day")).alias("_span"))
        .agg(F.max("_span").alias("_max_span"))
        .collect()[0]
    )
    max_span = span_row["_max_span"]
    if max_span is not None and max_span > _THEIL_SEN_MAX_SPAN_DAYS:
        raise ValueError(
            f"{op}: day span {max_span} exceeds the documented "
            f"{_THEIL_SEN_MAX_SPAN_DAYS}-day (10-year) O(days^2) contract; "
            "use a windowed/rolling slope or the Matousek/Chazelle "
            "randomized O(n log n) estimator for longer series"
        )


def q_x_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of the daily event volume per event type:
    the MEDIAN of all pairwise slopes (c_j - c_i) / (day_j - day_i) —
    the 29%-breakdown-point alternative to q_x_linreg's OLS slope
    (one outlier day cannot move it), the standard trend estimator for
    noisy operational series (Theil 1950, Sen 1968).

    Scale shape: the fact table collapses to the per-(type, day) count
    grid FIRST, so the pair table is CALENDAR-bounded — O(days^2) per
    type regardless of event volume (x100 events = same days = same
    pair count; ~90 days -> ~4k pairs/type). Median selection runs a
    row_number window PARTITIONED BY event_type over that bounded pair
    table (ENFORCED bound, VERDICT r13 #4: a runtime guard on the
    checkpointed grid raises ValueError when any type's day span
    exceeds ``_THEIL_SEN_MAX_SPAN_DAYS`` = 3653 — a 10-year series is
    ~6.6M pairs/type, still one executor's work; past that, switch to
    the Matousek/Chazelle randomized O(n log n) estimator before
    pointing this op at it — the same fail-loud discipline as
    q_asm_bwt's pushed 10..120 length filter, except BWT's bound is a
    filter by contract while an over-span series here is a caller
    error). Slopes are single IEEE divisions of small integers
    and the median (or the two-middle average) floor-snaps onto the
    micro grid — both engines evaluate the identical expression tree,
    so the double is deterministic; no summation-order hazard exists
    because nothing sums floats.

    References: reference has no statistics surface; this extends
    SURVEY §2.C's statistical-test family.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    # localCheckpoint the daily grid (three consumers: both pair-join
    # sides + ndays would each replay the events scan otherwise — the
    # q_dedup_kmv lesson); the grid is |types| x |days| rows
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    _guard_day_span(daily, "q_x_theil_sen")
    a = daily.select(
        "event_type", F.col("day").alias("d1"), F.col("c").alias("c1")
    )
    b = daily.select(
        "event_type", F.col("day").alias("d2"), F.col("c").alias("c2")
    )
    pairs = (
        a.join(F.broadcast(b), "event_type")
        .where(F.col("d2") > F.col("d1"))
        .select(
            "event_type",
            (
                (F.col("c2") - F.col("c1")).cast("double")
                / F.datediff("d2", "d1").cast("double")
            ).alias("slope"),
        )
    )
    w = W.partitionBy("event_type").orderBy("slope")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(W.partitionBy("event_type")).alias("_m"),
    )
    # odd m: the middle element; even m: mean of the two middles —
    # both engines pick by identical (m+1) div 2 / m div 2 + 1 ranks
    # (integer division — (m+1)/2 would be a DOUBLE in Spark and miss
    # every even-m rank)
    med = (
        ranked.where(
            (F.col("_rn") == F.expr("(_m + 1) div 2"))
            | (F.col("_rn") == F.expr("_m div 2 + 1"))
        )
        .groupBy("event_type")
        .agg(
            (F.sum("slope") / F.count("*")).alias("_med"),
            F.max("_m").cast("long").alias("n_pairs"),
        )
    )
    ndays = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days")
    )
    return (
        med.join(F.broadcast(ndays), "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            F.expr(
                "CAST(floor(_med * 1000000 + 0.5) AS BIGINT)"
            ).alias("slope_micro"),
        )
        .orderBy("event_type")
    )


Q_X_THEIL_SEN_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type,
         CAST(b.c - a.c AS DOUBLE)
         / CAST(date_diff('day', a.day, b.day) AS DOUBLE) AS slope
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type AND b.day > a.day
), ranked AS (
  SELECT event_type, slope,
         row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
         count(*) OVER (PARTITION BY event_type) AS m
  FROM pairs
), med AS (
  SELECT event_type, sum(slope) / count(*) AS medv,
         CAST(max(m) AS BIGINT) AS n_pairs
  FROM ranked
  WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
  GROUP BY 1
), nd AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY 1
)
SELECT event_type, n_days, n_pairs,
       CAST(floor(medv * 1000000 + 0.5) AS BIGINT) AS slope_micro
FROM med JOIN nd USING (event_type)
ORDER BY event_type
"""


def q_x_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the daily event volume per event
    type: S = sum over day-ordered pairs of sign(c_j - c_i), with the
    tie-corrected variance 18*Var(S) = n(n-1)(2n+5) - sum_t t(t-1)(2t+5)
    and the continuity-corrected z (Mann 1945, Kendall 1975) — the
    significance companion to q_x_theil_sen's slope magnitude: Theil-Sen
    says HOW steep the robust trend is, Mann-Kendall says whether a
    monotone trend exists at all. The standard pairing for operational
    volume monitoring (detect drift, then size it).

    Scale shape: identical to q_x_theil_sen — the fact table collapses
    to the per-(type, day) count grid FIRST (one map-side-combined
    aggregate, eager-checkpointed: three consumers), so the pair table
    is CALENDAR-bounded, O(days^2) per type regardless of event volume,
    under the same enforced 10-year ``_guard_day_span`` contract. S and
    18*Var(S) are EXACT BIGINTs in both engines (sign sums and the
    integer tie polynomial — nothing sums floats); z is one identical
    IEEE expression tree (CAST-to-double subtraction, one sqrt, one
    division) snapped to the micro grid, and S != 0 implies at least
    two distinct counts, so vs_num > 0 wherever the z branches divide.

    References: reference has no statistics surface; this extends
    SURVEY §2.C's statistical-test family alongside q_x_theil_sen.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = (
        ev.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    _guard_day_span(daily, "q_x_mann_kendall")
    a = daily.select(
        "event_type", F.col("day").alias("d1"), F.col("c").alias("c1")
    )
    b = daily.select(
        "event_type", F.col("day").alias("d2"), F.col("c").alias("c2")
    )
    s_tab = (
        a.join(F.broadcast(b), "event_type")
        .where(F.col("d2") > F.col("d1"))
        .groupBy("event_type")
        .agg(
            F.sum(F.signum(F.col("c2") - F.col("c1")).cast("long"))
            .cast("long")
            .alias("s"),
            F.count("*").cast("long").alias("n_pairs"),
        )
    )
    # tie polynomial over the per-count tie groups: |groups| <= |days|
    ties = (
        daily.groupBy("event_type", "c")
        .agg(F.count("*").cast("long").alias("_t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            )
            .cast("long")
            .alias("_tie_term"),
            # n_days = sum of tie-group sizes, NOT the group count —
            # counting groups undercounts whenever two days share a
            # count (property test falsifying example: 2 days, both
            # c=1, one tie group)
            F.sum("_t").cast("long").alias("n_days"),
        )
    )
    joined = s_tab.join(F.broadcast(ties), "event_type").withColumn(
        "vs_num",
        (
            F.col("n_days")
            * (F.col("n_days") - 1)
            * (2 * F.col("n_days") + 5)
            - F.col("_tie_term")
        ).cast("long"),
    )
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1).cast("double"))
        .when(F.col("s") < 0, (F.col("s") + 1).cast("double"))
        .otherwise(F.lit(0).cast("double"))
    ) / F.sqrt(F.col("vs_num").cast("double") / F.lit(18).cast("double"))
    return joined.select(
        "event_type",
        "n_days",
        "n_pairs",
        "s",
        "vs_num",
        F.when(
            F.col("s") == 0, F.lit(0).cast("long")
        )
        .otherwise(F.floor(z * 1000000 + F.lit(0.5)).cast("long"))
        .alias("z_micro"),
    ).orderBy("event_type")


Q_X_MANN_KENDALL_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), s_tab AS (
  SELECT a.event_type,
         CAST(sum(CAST(sign(b.c - a.c) AS BIGINT)) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type AND b.day > a.day
  GROUP BY 1
), ties AS (
  SELECT event_type,
         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
         CAST(sum(t) AS BIGINT) AS n_days
  FROM (
    SELECT event_type, CAST(count(*) AS BIGINT) AS t
    FROM daily GROUP BY event_type, c
  ) GROUP BY 1
), joined AS (
  SELECT event_type, n_days, n_pairs, s,
         CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
              AS BIGINT) AS vs_num
  FROM s_tab JOIN ties USING (event_type)
)
SELECT event_type, n_days, n_pairs, s, vs_num,
       CASE WHEN s = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(
              (CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
                    ELSE CAST(s + 1 AS DOUBLE) END
               / sqrt(CAST(vs_num AS DOUBLE) / CAST(18 AS DOUBLE)))
              * 1000000 + 0.5) AS BIGINT)
       END AS z_micro
FROM joined
ORDER BY event_type
"""


def q_x_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960) between two deterministic document
    quality raters, per source: rater A passes docs with
    ``n_chars >= 200`` (the metadata length gate), rater B passes docs
    with at least 39 spaces in the text (a structure proxy: ~40+
    whitespace-separated tokens). Kappa is the agreement ABOVE CHANCE —
    the standard QA readout for whether two corpus-curation classifiers
    measure the same thing or merely share base rates (raw agreement is
    inflated whenever both raters pass almost everything).

    Integer-exact core: for binary raters,
    kappa = (n*agree - chance) / (n^2 - chance) with
    chance = r1*c1 + (n-r1)*(n-c1), all BIGINTs — emitted as exact
    ``kappa_num``/``kappa_den`` columns so no rounding hazard exists;
    ``kappa_micro`` is the one identical IEEE division snapped to the
    micro grid (NULL when a degenerate table makes the denominator 0:
    both raters constant with the same label).

    Scale shape: ONE map-side-combined aggregate over documents
    (conditional sums on the two rater bits), a single shuffle on
    source — no joins, no windows, no text shuffled (only the two bits
    leave the scan). Trivially 100-TB-sane.

    References: reference has no statistics surface; this extends
    SURVEY §2.C's agreement/association family (q_x_confusion,
    q_x_cramers_v) to the LLM-curation QA loop.
    """
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("n_chars").isNotNull()
    )
    bits = docs.select(
        "source",
        F.when(F.col("n_chars") >= 200, 1).otherwise(0).cast("long").alias("a"),
        F.when(
            F.length("text") - F.length(F.replace(F.col("text"), F.lit(" ")))
            >= 39,
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("b"),
    )
    per = bits.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("agree"),
        F.sum("a").cast("long").alias("_r1"),
        F.sum("b").cast("long").alias("_c1"),
    )
    chance = F.col("_r1") * F.col("_c1") + (F.col("n") - F.col("_r1")) * (
        F.col("n") - F.col("_c1")
    )
    out = per.select(
        "source",
        "n",
        "agree",
        (F.col("n") * F.col("agree") - chance).cast("long").alias("kappa_num"),
        (F.col("n") * F.col("n") - chance).cast("long").alias("kappa_den"),
    )
    return out.select(
        "source",
        "n",
        "agree",
        "kappa_num",
        "kappa_den",
        F.when(
            F.col("kappa_den") > 0,
            F.floor(
                F.col("kappa_num").cast("double")
                / F.col("kappa_den").cast("double")
                * 1000000
                + F.lit(0.5)
            ).cast("long"),
        ).alias("kappa_micro"),
    ).orderBy("source")


Q_X_COHENS_KAPPA_SQL = """
WITH bits AS (
  SELECT source,
         CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS a,
         CASE WHEN length(text) - length(replace(text, ' ', '')) >= 39
              THEN 1 ELSE 0 END AS b
  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
), per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree,
         CAST(sum(a) AS BIGINT) AS r1,
         CAST(sum(b) AS BIGINT) AS c1
  FROM bits GROUP BY 1
), k AS (
  SELECT source, n, agree,
         CAST(n * agree - (r1 * c1 + (n - r1) * (n - c1)) AS BIGINT)
           AS kappa_num,
         CAST(n * n - (r1 * c1 + (n - r1) * (n - c1)) AS BIGINT)
           AS kappa_den
  FROM per
)
SELECT source, n, agree, kappa_num, kappa_den,
       CASE WHEN kappa_den > 0 THEN
         CAST(floor(CAST(kappa_num AS DOUBLE) / CAST(kappa_den AS DOUBLE)
                    * 1000000 + 0.5) AS BIGINT)
       END AS kappa_micro
FROM k
ORDER BY source
"""
