"""Relational surface extensions beyond SURVEY.md §2.B Q01-Q23.

Operators a reference user migrating real pipelines would reach for
next, each with a DuckDB oracle:

* **as-of join** — Spark has no native ASOF JOIN; the classic
  backward-looking "latest prior event" is built here as a union +
  running last-non-null window: one shuffle on the join key, linear
  work, no range self-join blowup. The DuckDB oracle uses its native
  ``ASOF LEFT JOIN``, so the custom operator is verified against a real
  engine's implementation of the semantics.
* **pivot** — ``groupBy().pivot(values=[...])``; values are declared
  explicitly, which at scale skips the extra distinct-scan Spark
  otherwise runs to discover the pivot columns (and makes the output
  schema deterministic).
* **exact percentiles** — ``percentile()`` (interpolated, equals
  DuckDB ``quantile_cont``).
* **deterministic hash sampling** — ``md5 % 100 < pct``: reproducible
  train/eval splits that survive reruns, repartitions and engine
  changes, unlike ``TABLESAMPLE``/rand(); the standard trick for
  training-data pipelines.
* **lag/lead analytics** — the offset-window half of SURVEY Q14 (the
  frame-spec half is q14_running_sum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdatagenomic_spark.functions import md5_long
from bigdatagenomic_spark.operators.relational import round2_portable
from bigdatagenomic_spark.sources.local import local_frame
from bigdatagenomic_spark.sources.tables import load_table

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SAMPLE_PCT = 10


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str = "ts",
    right_cols: tuple[str, ...] = (),
) -> DataFrame:
    """For each left row, the right row with the greatest ts <= left.ts
    within the same `on` group (backward as-of, inclusive).

    Plan shape: tag + union + one window over (on, ts) with a running
    last-non-null — a single hash shuffle on `on`, each partition
    scanned once in ts order. Right rows sort before left rows at equal
    ts so the match is inclusive. This is the merge-join formulation of
    as-of; the naive range self-join is O(n^2) per key and never
    acceptable at scale.
    """
    l_type = T.StructType(left.schema.fields)
    carried = F.struct(F.col(ts).alias("_r_ts"), *[F.col(c) for c in right_cols])
    r = right.select(
        F.col(on).alias("_on"),
        F.col(ts).alias("_ts"),
        F.lit(0).alias("_side"),
        carried.alias("_r"),
        F.lit(None).cast(l_type).alias("_l"),
    )
    r_type = r.schema["_r"].dataType
    l = left.select(
        F.col(on).alias("_on"),
        F.col(ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r_type).alias("_r"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
    )
    w = (
        W.partitionBy("_on")
        .orderBy("_ts", "_side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    matched = l.unionByName(r).withColumn(
        "_match",
        F.last(F.when(F.col("_side") == 0, F.col("_r")), ignorenulls=True).over(w),
    )
    return matched.where(F.col("_side") == 1).select("_l.*", "_match")


def q_x_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click joined to the same user's latest prior (or same-instant)
    view — NULLs kept when no view precedes the click."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join_backward(
        clicks,
        views.withColumnRenamed("event_id", "view_event_id"),
        on="user_id",
        right_cols=("view_event_id",),
    )
    return joined.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.unix_timestamp("ts").alias("click_ts"),
        F.col("_match.view_event_id").alias("view_id"),
        F.unix_timestamp("_match._r_ts").alias("view_ts"),
    ).orderBy("click_id")


def q_x_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
        .orderBy("user_id")
    )


def q_x_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            *[
                round2_portable(F.percentile("l_extendedprice", F.lit(p))).alias(
                    f"p{int(p * 100)}"
                )
                for p in (0.25, 0.5, 0.9)
            ]
        )
        .orderBy("l_returnflag")
    )


def q_x_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% split of documents by content hash."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.where(md5_long(F.col("text")) % 100 < SAMPLE_PCT)
        .select("doc_id")
        .orderBy("doc_id")
    )


def q_x_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    order_cols = ["l_linenumber", "l_partkey", "l_suppkey"]
    w = W.partitionBy("l_orderkey").orderBy(*order_cols)
    return (
        li.select(
            "l_orderkey",
            *order_cols,
            F.lag("l_quantity", 1).over(w).alias("prev_qty"),
            F.lead("l_quantity", 1).over(w).alias("next_qty"),
        )
        .orderBy("l_orderkey", *order_cols)
    )


def q_x_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: hour/day/month subtotals
    and the grand total in ONE pass (rollup grouping sets), instead of
    three separate scans+shuffles over the raw events."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        F.unix_timestamp(F.date_trunc("month", "ts")).alias("month_start"),
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_start"),
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_start"),
        "value",
    )
    return (
        d.rollup("month_start", "day_start", "hour_start")
        .agg(
            F.count("*").alias("n_events"),
            round2_portable(F.sum("value")).alias("sum_value"),
        )
        .orderBy(
            F.asc_nulls_first("month_start"),
            F.asc_nulls_first("day_start"),
            F.asc_nulls_first("hour_start"),
        )
    )


def q_x_union_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining set ops from SURVEY Q16 (INTERSECT covered there):
    nations with customers but no suppliers, plus the UNION ALL total."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    only_customers = c.distinct().exceptAll(s.distinct()).select(
        "nationkey", F.lit("customer_only").alias("src")
    )
    both_counts = (
        c.unionAll(s)
        .groupBy("nationkey")
        .agg(F.count("*").alias("n"))
        .select("nationkey", F.concat(F.lit("n="), F.col("n")).alias("src"))
    )
    return only_customers.unionByName(both_counts).orderBy("nationkey", "src")


def q_x_string_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The regexp/trim/split half of SURVEY Q17's declared function list."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.regexp_replace("p_name", "[aeiou]", "_").alias("consonants"),
            F.regexp_extract("p_type", "^([A-Z]+)", 1).alias("type_head"),
            F.trim(F.lower("p_brand")).alias("brand_lc"),
            F.size(F.split("p_name", " ")).alias("n_name_words"),
        )
        .orderBy("p_partkey")
    )


STRATA_PCT = {"en": 20, "de": 50, "fr": 50, "es": 50, "zh": 50}


def q_x_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language hash-split rates
    (downsample the dominant language, keep more of the rest) — the
    class-rebalancing pattern for training corpora, reproducible across
    runs/engines because the rate gate is a content hash, not rand()."""
    d = load_table(spark, sf_dir, "documents")
    rate = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in STRATA_PCT.items()],
        F.lit(0),
    )
    return (
        d.where(md5_long(F.col("text")) % 100 < rate)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def q_x_ntile_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining ranking/value window functions: ntile buckets plus
    first/last value over a running frame."""
    li = load_table(spark, sf_dir, "lineitem")
    order_cols = ["l_linenumber", "l_partkey", "l_suppkey"]
    w = W.partitionBy("l_orderkey").orderBy(*order_cols)
    wf = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        li.select(
            "l_orderkey",
            *order_cols,
            F.ntile(4).over(w).alias("quartile"),
            F.first("l_quantity").over(wf).alias("first_qty"),
            F.last("l_quantity").over(wf).alias("last_qty"),
        )
        .orderBy("l_orderkey", *order_cols)
    )


def q_x_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/min/max over the embedding corpus (posexplode
    -> groupBy dim): the stats pass of embedding normalization
    (mean-centering / feature scaling) at corpus scale — one explode
    shuffle on the 64-value dim key, map-side partials carry the load."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return (
        e.select(F.posexplode("v").alias("pos", "val"))
        .groupBy("pos")
        .agg(
            (F.floor(F.avg("val") * 10000 + F.lit(0.5)).cast("double") / 10000).alias(
                "mean_val"
            ),
            F.round(F.min("val"), 4).alias("min_val"),
            F.round(F.max("val"), 4).alias("max_val"),
        )
        .select((F.col("pos") + 1).alias("dim"), "mean_val", "min_val", "max_val")
        .orderBy("dim")
    )


def q_x_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank + cume_dist."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_orderstatus",
            (F.floor(F.percent_rank().over(w) * 10000 + F.lit(0.5)).cast("double") / 10000).alias("pr"),
            (F.floor(F.cume_dist().over(w) * 10000 + F.lit(0.5)).cast("double") / 10000).alias("cd"),
        )
        .orderBy("o_orderkey")
    )


def q_x_conditional_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/distinct aggregate forms: count_if, bool_or/bool_and,
    sum(DISTINCT)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count_if(F.col("l_quantity") > 25).alias("n_heavy"),
            F.bool_or(F.col("l_discount") > 0.05).alias("any_discounted"),
            F.bool_and(F.col("l_tax") >= 0).alias("all_taxed"),
            F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_dist_qty"),
        )
        .orderBy("l_returnflag")
    )


def q_x_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — Catalyst decorrelates it into an
    aggregate + join, no per-row re-execution (SURVEY.md §4.1)."""
    spark_dir = sf_dir  # registered views are per-call; use SQL directly
    from bigdatagenomic_spark.sources.tables import load_table as _lt

    _lt(spark, spark_dir, "orders").createOrReplaceTempView("_qx_orders")
    _lt(spark, spark_dir, "lineitem").createOrReplaceTempView("_qx_lineitem")
    return spark.sql(
        """SELECT o_orderkey FROM _qx_orders o
           WHERE o_totalprice > 2 * (
             SELECT coalesce(sum(l_extendedprice), 0) FROM _qx_lineitem l
             WHERE l.l_orderkey = o.o_orderkey)
           ORDER BY o_orderkey"""
    )


def asof_join_cogrouped(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str = "ts",
    right_value: str = "r_value",
) -> DataFrame:
    """Backward as-of join via cogrouped ``applyInPandas`` — the Arrow
    grouped-map path for kernels the window formulation can't express.

    Semantics match ``asof_join_backward`` (greatest right.ts <= left.ts
    per group, inclusive); exercised against it in tests. Both sides
    shuffle once on ``on``; each cogroup pair lands in ONE Python worker
    as two pandas frames and pandas.merge_asof does the per-group merge
    (sorted-merge, O(n+m)). Use the native window form when it fits —
    this exists to pin down the cogroup plumbing (shuffle, Arrow batch
    shape, schema contract) for genuinely-custom pairwise kernels.
    Skew note: one group = one worker invocation, so a hot key is a
    straggler here; the window form shares that property (single
    partition scan per key) — salt the key upstream either way.
    """
    import pandas as pd

    # When both sides derive from the same DataFrame (self-cogroup, the
    # common case for event streams split by type), left and right share
    # attribute IDs and Spark's cogroup planning silently DROPS the
    # right side's colliding columns from the pandas frame. Re-aliasing
    # every right column with a distinct name forces fresh attributes on
    # that side, which also makes the two frames' column names disjoint.
    r_ts, r_val = f"_r_{ts}", right_value
    right = right.select(
        F.col(on).alias("_r_on"),
        F.col(ts).alias(r_ts),
        F.col(right_value).alias(r_val),
    )

    out_fields = [f"{f.name} {f.dataType.simpleString()}" for f in left.schema.fields]
    out_schema = ", ".join(out_fields + [f"{right_value} bigint"])

    def merge(ldf: pd.DataFrame, rdf: pd.DataFrame) -> pd.DataFrame:
        if ldf.empty:
            return pd.DataFrame(columns=[*ldf.columns, right_value])
        ldf = ldf.sort_values(ts, kind="mergesort")
        if rdf.empty:
            ldf[right_value] = pd.Series([pd.NA] * len(ldf), dtype="Int64")
            return ldf
        rdf = (
            rdf[[r_ts, r_val]]
            .rename(columns={r_ts: ts})
            .sort_values(ts, kind="mergesort")
        )
        merged = pd.merge_asof(ldf, rdf, on=ts, direction="backward")
        merged[right_value] = merged[right_value].astype("Int64")
        return merged

    return (
        left.groupBy(on)
        .cogroup(right.groupBy("_r_on"))
        .applyInPandas(merge, schema=out_schema)
    )


def q_x_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: build a map from the event props, read it back
    with map_keys/map_values/try_element_at (ANSI-safe access). Keys and
    values are emitted comma-joined: the correctness driver canonicalizes
    through pandas, where raw list cells are unsortable, and int/string
    casts agree exactly across engines."""
    ev = load_table(spark, sf_dir, "events")
    v = F.get_json_object("props", "$.k").cast("int")
    m = F.map_from_arrays(
        F.array(F.lit("k"), F.lit("kk")), F.array(v, v * 2)
    )
    return (
        ev.select("event_id", m.alias("m"))
        .select(
            "event_id",
            F.array_join(F.map_keys("m"), ",").alias("keys"),
            F.array_join(
                F.transform(F.map_values("m"), lambda x: x.cast("string")),
                ",",
            ).alias("vals"),
            F.try_element_at(F.col("m"), F.lit("kk")).alias("kk"),
            F.size("m").alias("n_entries"),
        )
        .orderBy("event_id")
    )


def q_x_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value window: each order sees its customer's 2nd-cheapest
    order key (frame = whole partition, both directions)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.nth_value("o_orderkey", 2).over(w).alias("second_cheapest"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# --------------------------------------------------------------------------
# keep-latest-per-key (QUALIFY-style windowed filter)
# --------------------------------------------------------------------------
def keep_latest(df: DataFrame, key: str, order: list) -> DataFrame:
    """The warehouse CDC-compaction idiom: one row per key, the row
    that sorts first under `order` (e.g. newest). One shuffle on the
    key; Spark's window + filter is the same plan DuckDB's QUALIFY
    sugar produces."""
    w = W.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def q_x_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest order per customer (ties broken by highest orderkey)."""
    o = load_table(spark, sf_dir, "orders")
    return keep_latest(
        o.select("o_custkey", "o_orderkey", "o_orderdate"),
        "o_custkey",
        [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    ).orderBy("o_custkey")


Q_X_KEEP_LATEST_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate
FROM orders
QUALIFY row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
ORDER BY o_custkey
"""


# --------------------------------------------------------------------------
# null-safe equality join (<=> / IS NOT DISTINCT FROM)
# --------------------------------------------------------------------------
def q_x_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join on a NULL-able derived key with null-safe equality.

    ``nullif(o_orderstatus,'O')`` manufactures NULL keys; ``eqNullSafe``
    makes NULL match NULL (plain ``=`` would silently drop that group).
    Still a hash-joinable equi-condition — Catalyst treats <=> as a
    join key, no nested-loop fallback.
    """
    o = load_table(spark, sf_dir, "orders")
    k = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    dim = (
        o.select(k.alias("d_status"))
        .distinct()
        .withColumn("status_tag", F.coalesce(F.concat(F.lit("s:"), "d_status"), F.lit("s:open")))
    )
    fact = o.select("o_orderkey", k.alias("f_status"))
    return (
        fact.join(F.broadcast(dim), fact["f_status"].eqNullSafe(dim["d_status"]))
        .groupBy("status_tag")
        .agg(F.count("*").alias("cnt"))
        .orderBy("status_tag")
    )


Q_X_NULLSAFE_JOIN_SQL = """
WITH dim AS (
  SELECT DISTINCT nullif(o_orderstatus, 'O') AS d_status FROM orders),
tagged AS (
  SELECT d_status,
         coalesce('s:' || d_status, 's:open') AS status_tag FROM dim),
fact AS (SELECT o_orderkey, nullif(o_orderstatus, 'O') AS f_status FROM orders)
SELECT t.status_tag, count(*) AS cnt
FROM fact f JOIN tagged t ON f.f_status IS NOT DISTINCT FROM t.d_status
GROUP BY t.status_tag ORDER BY t.status_tag
"""


# --------------------------------------------------------------------------
# multiset set ops (INTERSECT ALL / EXCEPT ALL)
# --------------------------------------------------------------------------
def q_x_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag semantics: customer nation keys INTERSECT ALL supplier nation
    keys, then EXCEPT ALL one copy of each — exercises the multiplicity
    bookkeeping (Spark plans both as aggregate-on-count, one shuffle)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk")
    )
    one_each = c.select("nk").distinct()
    return c.intersectAll(s).exceptAll(one_each).groupBy("nk").agg(
        F.count("*").alias("cnt")
    ).orderBy("nk")


Q_X_SETOPS_ALL_SQL = """
SELECT nk, count(*) AS cnt FROM (
  (SELECT c_nationkey AS nk FROM customer
   INTERSECT ALL
   SELECT s_nationkey FROM supplier)
  EXCEPT ALL
  SELECT DISTINCT c_nationkey FROM customer
) GROUP BY nk ORDER BY nk
"""


# --------------------------------------------------------------------------
# deterministic per-key reservoir sampling
# --------------------------------------------------------------------------
RESERVOIR_K = 3


def reservoir_per_key(df: DataFrame, key: str, id_cols: list[str], k: int) -> DataFrame:
    """Keep a deterministic uniform-ish sample of ``k`` rows per key.

    Classic reservoir sampling is sequential/stateful; the distributed
    equivalent ranks rows inside each key by a content hash of their
    identity and keeps the ``k`` smallest. Same statistical intent
    (every row equally likely under a random-oracle hash), but
    reproducible across runs, engines, and repartitions — which
    rand()-based reservoirs are not. One shuffle on the key; the
    per-key sort is partition-local and spillable, and with
    ``spark.sql.execution.topKSortFallbackThreshold`` Spark plans
    rank-filter windows as per-partition top-k heaps.
    """
    hv = md5_long(F.concat_ws(":", *[F.col(c) for c in id_cols]))
    w = W.partitionBy(key).orderBy(hv.asc(), *[F.col(c).asc() for c in id_cols])
    return (
        df.select(key, *id_cols)
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
    )


def q_x_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return reservoir_per_key(
        li, "l_suppkey", ["l_orderkey", "l_linenumber"], RESERVOIR_K
    ).orderBy("l_suppkey", "sample_rank")


Q_X_RESERVOIR_SAMPLE_SQL = f"""
WITH h AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         CAST('0x' || substr(md5(l_orderkey || ':' || l_linenumber), 1, 15)
              AS BIGINT) AS hv
  FROM lineitem
), r AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         row_number() OVER (PARTITION BY l_suppkey
                            ORDER BY hv, l_orderkey, l_linenumber) AS sample_rank
  FROM h
)
SELECT l_suppkey, l_orderkey, l_linenumber, sample_rank
FROM r WHERE sample_rank <= {RESERVOIR_K}
ORDER BY l_suppkey, sample_rank
"""


# --------------------------------------------------------------------------
# batch gap-sessionization (the batch twin of streaming session_window)
# --------------------------------------------------------------------------
SESSION_GAP_S = 1800  # 30-minute inactivity closes a session


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = SESSION_GAP_S,
) -> DataFrame:
    """Assign gap-based session ids: a new session starts when the gap
    to the previous event of the same user exceeds ``gap_s``.

    The classic two-window formulation — boundary flag via ``lag``,
    then a running sum of boundaries — shares ONE shuffle+sort on
    (user, ts): Spark plans both windows in a single Window operator
    because partitioning and ordering are identical. Timestamps are
    compared directly (never via unix_timestamp, which truncates
    sub-second parts and would mis-place events exactly at the gap
    boundary). At 100 TB the state per task is one row (the previous
    event), the same regime as streaming session_window (S03) — this is
    its batch/backfill twin with identical semantics.
    """
    order = [F.col(ts_col).asc(), F.col("event_id").asc()]
    w = W.partitionBy(user_col).orderBy(*order)
    prev_ts = F.lag(ts_col).over(w)
    is_new = F.when(
        prev_ts.isNull()
        | (F.col(ts_col) > prev_ts + F.expr(f"INTERVAL {gap_s} SECOND")),
        F.lit(1),
    ).otherwise(F.lit(0))
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return events.withColumn("session_seq", F.sum(is_new).over(run))


def q_x_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev)
    return (
        s.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_seq")
    )


Q_X_SESSIONIZE_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL {SESSION_GAP_S} SECOND
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts,
         -- CAST: DuckDB sum(int) is HUGEINT, which pandas renders as
         -- float64 — the driver's canonicalizer would then hash 1.0 vs
         -- Spark's int64 1 and mismatch. BIGINT keeps both sides int64.
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT)
           AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sessions
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
"""


# --------------------------------------------------------------------------
# CDC apply-changes (changelog merge into a snapshot)
# --------------------------------------------------------------------------
def apply_changes(
    base: DataFrame,
    changelog: DataFrame,
    key_cols: list[str],
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply an I/U/D changelog to a base snapshot; latest op per key wins.

    The merge half of the incremental-pipeline pair (snapshot_diff is
    the inverse). Plan: one window shuffle compacts the changelog to its
    final op per key (same shape as keep-latest), then the base is
    anti-joined on ALL touched keys (replaced or deleted rows drop out)
    and surviving upserts are unioned back. No join ever carries the
    base×changelog product; at 100 TB the changelog side is typically
    tiny relative to base, so both the anti-join build side and the
    union stay changelog-sized.
    """
    w = W.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
    latest = (
        changelog.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    touched = latest.select(*key_cols)
    upserts = latest.where(F.col(op_col) != "D").drop(op_col, seq_col)
    return base.join(touched, key_cols, "left_anti").unionByName(upserts)


CDC_DEL_MOD = 10
CDC_UPD_MOD = 4
CDC_INS_MOD = 7


def q_x_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic CDC scenario over documents: base = 2/3 of docs;
    changelog = updates (seq 1) on every 4th doc, deletes (seq 2) on
    every 10th, re-inserts (seq 3) on every 7th — overlapping keys
    exercise the latest-op-wins ordering."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.where(F.col("doc_id") % 3 != 0)
    upd = d.where(F.col("doc_id") % CDC_UPD_MOD == 0).select(
        "doc_id",
        F.concat(F.lit("u1: "), F.col("text")).alias("text"),
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
    )
    dele = d.where(F.col("doc_id") % CDC_DEL_MOD == 0).select(
        "doc_id",
        F.lit(None).cast("string").alias("text"),
        F.lit("D").alias("op"),
        F.lit(2).alias("seq"),
    )
    ins = d.where(F.col("doc_id") % CDC_INS_MOD == 0).select(
        "doc_id",
        F.concat(F.lit("i3: "), F.col("text")).alias("text"),
        F.lit("I").alias("op"),
        F.lit(3).alias("seq"),
    )
    log = upd.unionByName(dele).unionByName(ins)
    out = apply_changes(base, log, ["doc_id"], "seq")
    return out.select("doc_id", F.md5("text").alias("content_hash")).orderBy(
        "doc_id"
    )


Q_X_APPLY_CHANGES_SQL = f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
), log AS (
  SELECT doc_id, 'u1: ' || text AS text, 'U' AS op, 1 AS seq
  FROM documents WHERE doc_id % {CDC_UPD_MOD} = 0
  UNION ALL
  SELECT doc_id, CAST(NULL AS VARCHAR), 'D', 2
  FROM documents WHERE doc_id % {CDC_DEL_MOD} = 0
  UNION ALL
  SELECT doc_id, 'i3: ' || text, 'I', 3
  FROM documents WHERE doc_id % {CDC_INS_MOD} = 0
), latest AS (
  SELECT doc_id, text, op FROM (
    SELECT doc_id, text, op,
           row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
    FROM log)
  WHERE rn = 1
), merged AS (
  SELECT b.doc_id, b.text FROM base b
  WHERE b.doc_id NOT IN (SELECT doc_id FROM latest)
  UNION ALL
  SELECT doc_id, text FROM latest WHERE op <> 'D'
)
SELECT doc_id, md5(text) AS content_hash FROM merged ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# VARIANT semi-structured extraction (Spark 4 successor to get_json_object)
# --------------------------------------------------------------------------
def q_x_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse event props into VARIANT once, then typed-path extract.

    Unlike per-field ``get_json_object`` (which re-parses the JSON
    string per extraction), VARIANT parses once into a binary-encoded
    tree and every ``variant_get`` is a cheap path walk — the right
    shape when events carry many consumed fields. At 100 TB you parse
    at ingest, store the variant column, and never re-tokenize JSON.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.withColumn("_v", F.try_parse_json("props"))
    return v.select(
        "event_id",
        F.variant_get("_v", "$.k", "int").alias("k_int"),
        F.variant_get("_v", "$.k", "string").isNotNull().alias("has_k"),
    ).orderBy("event_id")


Q_X_VARIANT_EXTRACT_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
       json_extract_string(props, '$.k') IS NOT NULL AS has_k
FROM events ORDER BY event_id
"""


# --------------------------------------------------------------------------
# ordered-sequence funnel analysis
# --------------------------------------------------------------------------
FUNNEL_STEPS = ["view", "click", "purchase"]


def funnel_counts(
    events: DataFrame, steps: list[str] = None, user_col: str = "user_id"
) -> DataFrame:
    """Users reaching each stage of an ordered event funnel.

    Stage k requires an event of type steps[k] STRICTLY AFTER the user's
    stage-(k-1) timestamp (first-touch semantics: the earliest qualifying
    event per stage). One conditional-min aggregate pass per stage, each
    shuffling only (user, ts) pairs, with the per-user stage table
    carried forward — len(steps) small shuffles, never a self-join of
    the event log against itself. Output: (stage, step, n_users).
    """
    steps = steps or FUNNEL_STEPS
    stage_ts = events.where(F.col("event_type") == steps[0]).groupBy(
        user_col
    ).agg(F.min("ts").alias("t0"))
    out_rows = [
        stage_ts.agg(
            F.lit(1).alias("stage"),
            F.lit(steps[0]).alias("step"),
            F.count("*").cast("long").alias("n_users"),
        )
    ]
    for k, step in enumerate(steps[1:], start=1):
        nxt = (
            events.where(F.col("event_type") == step)
            .join(stage_ts, user_col)
            .where(F.col("ts") > F.col(f"t{k - 1}"))
            .groupBy(user_col, *[f"t{i}" for i in range(k)])
            .agg(F.min("ts").alias(f"t{k}"))
        )
        stage_ts = nxt
        out_rows.append(
            stage_ts.agg(
                F.lit(k + 1).alias("stage"),
                F.lit(step).alias("step"),
                F.count("*").cast("long").alias("n_users"),
            )
        )
    out = out_rows[0]
    for r in out_rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("stage")


def q_x_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return funnel_counts(load_table(spark, sf_dir, "events"))


Q_X_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t1
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t0
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t1
  GROUP BY e.user_id
)
SELECT 1 AS stage, 'view' AS step, count(*) AS n_users FROM s1
UNION ALL
SELECT 2, 'click', count(*) FROM s2
UNION ALL
SELECT 3, 'purchase', count(*) FROM s3
ORDER BY stage
"""


# --------------------------------------------------------------------------
# cohort retention analysis
# --------------------------------------------------------------------------
def q_x_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-cohort retention triangle: users grouped by first-event
    week, counted distinct per week offset since their cohort week.

    Two shuffles: the per-user min (cohort assignment) and the
    (cohort, offset) distinct count after joining cohorts back onto the
    event log — the join key is user_id, so at scale it co-partitions
    with the first aggregate and AQE reuses the exchange.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    )
    cohort = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    joined = ev.join(cohort, "user_id")
    return (
        joined.select(
            F.to_date("cohort_wk").alias("cohort_week"),
            ((F.unix_timestamp("wk") - F.unix_timestamp("cohort_wk"))
             / (7 * 86400)).cast("int").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


Q_X_COHORT_RETENTION_SQL = """
WITH ev AS (
  SELECT user_id, date_trunc('week', ts) AS wk FROM events
), cohort AS (
  SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id
)
SELECT CAST(c.cohort_wk AS DATE) AS cohort_week,
       CAST(floor((epoch(e.wk) - epoch(c.cohort_wk)) / (7 * 86400)) AS INT)
         AS week_offset,
       count(DISTINCT e.user_id) AS n_users
FROM ev e JOIN cohort c USING (user_id)
GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""


# --------------------------------------------------------------------------
# full outer join (aggregate-then-join reconciliation)
# --------------------------------------------------------------------------
def q_x_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer vs supplier counts, FULL OUTER joined so
    nations present on only one side keep a 0 on the other — the
    reconciliation-report shape. Both sides aggregate BEFORE the join,
    so the outer join runs at nation cardinality."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        c.join(s, c["nk_c"] == s["nk_s"], "full_outer")
        .select(
            F.coalesce("nk_c", "nk_s").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


Q_X_FULL_OUTER_SQL = """
WITH c AS (
  SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1
), s AS (
  SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1
)
SELECT coalesce(c.nk, s.nk) AS nationkey,
       coalesce(c.n_cust, 0) AS n_cust,
       coalesce(s.n_supp, 0) AS n_supp
FROM c FULL OUTER JOIN s ON c.nk = s.nk
ORDER BY nationkey
"""


# --------------------------------------------------------------------------
# ratio-to-report (percent of total) window
# --------------------------------------------------------------------------
def q_x_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each nation's share of total customer account balance: an
    aggregate followed by an unpartitioned window sum. The window input
    is nation-cardinality (the aggregate ran first), so the single-
    partition window is over ~25 rows, not the fact table — the safe
    version of a pattern that is a scale trap when applied pre-agg."""
    c = load_table(spark, sf_dir, "customer")
    per_nation = c.groupBy("c_nationkey").agg(
        F.sum("c_acctbal").alias("bal")
    )
    w = W.partitionBy()
    return per_nation.select(
        "c_nationkey",
        round2_portable(F.col("bal")).alias("bal"),
        (
            F.floor(
                F.try_divide(F.col("bal"), F.sum("bal").over(w)) * 1000000
                + F.lit(0.5)
            )
            / 10000
        ).alias("pct_of_total"),
    ).orderBy("c_nationkey")


Q_X_RATIO_TO_REPORT_SQL = """
WITH per_nation AS (
  SELECT c_nationkey, sum(c_acctbal) AS bal FROM customer GROUP BY c_nationkey
)
SELECT c_nationkey,
       floor(bal * 100 + 0.5) / 100 AS bal,
       floor(bal / sum(bal) OVER () * 1000000 + 0.5) / 10000 AS pct_of_total
FROM per_nation ORDER BY c_nationkey
"""


# --------------------------------------------------------------------------
# time-bucketed dedup (at most one row per content per day)
# --------------------------------------------------------------------------
def q_x_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the FIRST event per (user, event_type, day) — the batch twin
    of streaming dropDuplicatesWithinWatermark with a day-bucketed key:
    one window shuffle on the dedup key, earliest row wins
    deterministically (ties broken by event_id)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy(
        "user_id", "event_type", F.to_date("ts").alias("day")
    ).orderBy("ts", "event_id")
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("event_id", "user_id", "event_type", F.to_date("ts").alias("day"))
        .orderBy("event_id")
    )


Q_X_WINDOW_DEDUP_SQL = """
SELECT event_id, user_id, event_type, CAST(ts AS DATE) AS day FROM (
  SELECT event_id, user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id, event_type, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn
  FROM events)
WHERE rn = 1 ORDER BY event_id
"""


# --------------------------------------------------------------------------
# rolling time-window aggregate (RANGE frame over seconds)
# --------------------------------------------------------------------------
ROLLING_WINDOW_S = 3600  # trailing hour


def q_x_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-hour event count + value sum at every event —
    the continuous rolling metric (rate limiting, anomaly baselines).
    A value-RANGE frame over epoch seconds: ONE shuffle on user_id,
    each partition scanned once with a sliding frame — never the
    self-join-on-time-band formulation (O(n·w) per key)."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    w = (
        W.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-ROLLING_WINDOW_S, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            sec.alias("ts_sec"),
            F.count("*").over(w).alias("n_trailing"),
            round2_portable(F.sum("value").over(w)).alias("sum_trailing"),
        )
        .orderBy("event_id")
    )


Q_X_ROLLING_WINDOW_SQL = f"""
SELECT event_id, user_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
       count(*) OVER w AS n_trailing,
       floor(sum(value) OVER w * 100 + 0.5) / 100 AS sum_trailing
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN {ROLLING_WINDOW_S} PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


# --------------------------------------------------------------------------
# consecutive-event pattern detection (MATCH_RECOGNIZE-lite)
# --------------------------------------------------------------------------
PATTERN_RUN_LEN = 3


def q_x_error_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users with >= 3 CONSECUTIVE 'error' events (no other event type in
    between): the alerting/pattern shape SQL MATCH_RECOGNIZE serves,
    built from two windows that share one shuffle on user_id —
    gaps-and-islands run-ids (row_number difference), then a run-length
    count. Emits (user_id, run_start_id, run_len) per qualifying run."""
    ev = load_table(spark, sf_dir, "events")
    w_all = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_err = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    runs = (
        ev.withColumn("rn_all", F.row_number().over(w_all))
        .withColumn("rn_type", F.row_number().over(w_err))
        .where(F.col("event_type") == "error")
        .withColumn("run_key", F.col("rn_all") - F.col("rn_type"))
    )
    return (
        runs.groupBy("user_id", "run_key")
        .agg(
            F.min("event_id").alias("run_start_id"),
            F.count("*").alias("run_len"),
        )
        .where(F.col("run_len") >= PATTERN_RUN_LEN)
        .select("user_id", "run_start_id", "run_len")
        .orderBy("user_id", "run_start_id")
    )


Q_X_ERROR_RUNS_SQL = f"""
WITH numbered AS (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn_all,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn_type
  FROM events
), runs AS (
  SELECT user_id, event_id, rn_all - rn_type AS run_key
  FROM numbered WHERE event_type = 'error'
)
SELECT user_id, min(event_id) AS run_start_id, count(*) AS run_len
FROM runs
GROUP BY user_id, run_key
HAVING count(*) >= {PATTERN_RUN_LEN}
ORDER BY user_id, run_start_id
"""


# --------------------------------------------------------------------------
# SCD type-2 history build (validity intervals from a changelog)
# --------------------------------------------------------------------------
def scd2_history(
    changelog: DataFrame, key_cols: list[str], seq_col: str
) -> DataFrame:
    """Build slowly-changing-dimension type-2 rows: each change version
    gets [valid_from, valid_to) with valid_to = the next version's seq
    (NULL = current). One window shuffle on the key; the lead() lookup
    is partition-local. The temporal-versioning complement of
    apply_changes (which keeps only the latest)."""
    w = W.partitionBy(*key_cols).orderBy(F.col(seq_col).asc())
    return (
        changelog.withColumn("valid_from", F.col(seq_col))
        .withColumn("valid_to", F.lead(seq_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def q_x_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 over a deterministic document changelog (same U/D/I scenario
    as q_x_apply_changes) — every version row with its validity range."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    upd = d.where(F.col("doc_id") % CDC_UPD_MOD == 0).select(
        "doc_id", F.lit("U").alias("op"), F.lit(1).alias("seq")
    )
    dele = d.where(F.col("doc_id") % CDC_DEL_MOD == 0).select(
        "doc_id", F.lit("D").alias("op"), F.lit(2).alias("seq")
    )
    ins = d.where(F.col("doc_id") % CDC_INS_MOD == 0).select(
        "doc_id", F.lit("I").alias("op"), F.lit(3).alias("seq")
    )
    log = upd.unionByName(dele).unionByName(ins)
    return (
        scd2_history(log, ["doc_id"], "seq")
        .select("doc_id", "op", "seq", "valid_from", "valid_to", "is_current")
        .orderBy("doc_id", "seq")
    )


Q_X_SCD2_HISTORY_SQL = f"""
WITH log AS (
  SELECT doc_id, 'U' AS op, 1 AS seq FROM documents
  WHERE doc_id % {CDC_UPD_MOD} = 0
  UNION ALL
  SELECT doc_id, 'D', 2 FROM documents WHERE doc_id % {CDC_DEL_MOD} = 0
  UNION ALL
  SELECT doc_id, 'I', 3 FROM documents WHERE doc_id % {CDC_INS_MOD} = 0
)
SELECT doc_id, op, seq, seq AS valid_from,
       lead(seq) OVER (PARTITION BY doc_id ORDER BY seq) AS valid_to,
       lead(seq) OVER (PARTITION BY doc_id ORDER BY seq) IS NULL AS is_current
FROM log
ORDER BY doc_id, seq
"""


# --------------------------------------------------------------------------
# calendar dimension generator (no source table)
# --------------------------------------------------------------------------
CAL_START = "2024-01-01"
CAL_END = "2024-03-31"


def q_x_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generate a date dimension from thin air: sequence + explode, all
    attributes derived JVM-side — the standard star-schema helper a
    reference user would otherwise hand-load. sf_dir is unused (the
    generator is data-free) but kept for the registry signature."""
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit(CAL_START)),
                F.to_date(F.lit(CAL_END)),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d")
    )
    return days.select(
        "d",
        F.year("d").cast("int").alias("y"),
        F.month("d").cast("int").alias("m"),
        F.dayofmonth("d").cast("int").alias("dom"),
        (F.weekday("d") + 1).cast("int").alias("isodow"),
        F.quarter("d").cast("int").alias("q"),
        (F.weekday("d") >= 5).alias("is_weekend"),
        F.last_day("d").alias("month_end"),
    ).orderBy("d")


Q_X_CALENDAR_DIM_SQL = f"""
SELECT CAST(d AS DATE) AS d,
       CAST(year(d) AS INT) AS y, CAST(month(d) AS INT) AS m,
       CAST(day(d) AS INT) AS dom, CAST(isodow(d) AS INT) AS isodow,
       CAST(quarter(d) AS INT) AS q,
       isodow(d) >= 6 AS is_weekend,
       last_day(d) AS month_end
FROM (SELECT unnest(generate_series(DATE '{CAL_START}', DATE '{CAL_END}',
                                    INTERVAL 1 DAY)) AS d)
ORDER BY d
"""


def q_x_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode (most frequent value).

    Spark's built-in ``mode()`` picks an ARBITRARY value on ties — a
    correctness trap for any pipeline that feeds the result into a
    hash/join. The deterministic formulation is count + window argmax
    with an explicit tie-break (count desc, value asc): two shuffles,
    both map-side combined, the second over the already-tiny count
    table.
    """
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("c")
    )
    w = W.partitionBy("o_orderstatus").orderBy(
        F.desc("c"), F.asc("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("c").alias("mode_count"),
        )
        .orderBy("o_orderstatus")
    )


Q_X_MODE_PER_GROUP_SQL = """
WITH c AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS c
  FROM orders GROUP BY o_orderstatus, o_orderpriority
), r AS (
  SELECT o_orderstatus, o_orderpriority, c,
         row_number() OVER (PARTITION BY o_orderstatus
                            ORDER BY c DESC, o_orderpriority) AS rn
  FROM c
)
SELECT o_orderstatus, o_orderpriority AS mode_priority, c AS mode_count
FROM r WHERE rn = 1 ORDER BY o_orderstatus
"""


def q_x_union_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: combine an old snapshot (no priority
    column) with a new one (priority added) via ``unionByName(
    allowMissingColumns=True)`` — the missing column nulls out instead
    of failing or silently mis-aligning by position (positional UNION
    is the classic schema-drift corruption bug). Map-only: the union is
    a plan concatenation, no shuffle before the declared ORDER BY.
    """
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.to_timestamp(F.lit("2000-01-01"))
    old = o.where(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_totalprice", F.lit("v1").alias("snapshot")
    )
    new = o.where(F.col("o_orderdate") >= cutoff).select(
        "o_orderkey", "o_totalprice", "o_orderpriority",
        F.lit("v2").alias("snapshot"),
    )
    return (
        old.unionByName(new, allowMissingColumns=True)
        .select("o_orderkey", "o_totalprice", "o_orderpriority", "snapshot")
        .orderBy("o_orderkey")
    )


Q_X_UNION_EVOLVED_SQL = """
SELECT o_orderkey, o_totalprice,
       CAST(NULL AS VARCHAR) AS o_orderpriority, 'v1' AS snapshot
FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
UNION ALL
SELECT o_orderkey, o_totalprice, o_orderpriority, 'v2' AS snapshot
FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
ORDER BY o_orderkey
"""


def q_x_pop_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period revenue: monthly totals with absolute and
    percent change vs the previous month (lag over an aggregated
    series). The aggregate shrinks the data to |months| rows before
    the window, so the lag's single-partition sort is over a tiny
    series — the correct order of operations at any scale (windowing
    the raw fact table first would sort 100 TB to produce 80 rows).
    """
    o = load_table(spark, sf_dir, "orders")
    # fixed-point cents: round each price once, sum as integers — the
    # float sum's last ulp depends on accumulation order and can flip
    # the 2-decimal rounding across engines (same fix as TPC-H Q9)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    monthly = (
        o.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month")
        )
        .agg((F.sum(cents) / 100.0).alias("revenue"))
    )
    w = W.orderBy("month")
    prev = F.lag("revenue").over(w)
    return (
        monthly.select(
            "month",
            "revenue",
            F.round(F.col("revenue") - prev, 2).alias("abs_change"),
            F.round(
                F.try_divide(F.col("revenue") - prev, prev) * 100, 4
            ).alias("pct_change"),
        )
        .orderBy("month")
    )


Q_X_POP_CHANGE_SQL = """
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
  FROM orders GROUP BY 1
)
SELECT month, revenue,
       round(revenue - lag(revenue) OVER (ORDER BY month), 2) AS abs_change,
       round((revenue - lag(revenue) OVER (ORDER BY month))
             / lag(revenue) OVER (ORDER BY month) * 100, 4) AS pct_change
FROM m ORDER BY month
"""


# --------------------------------------------------------------------------
# market-basket pair counts (co-occurrence mining)
# --------------------------------------------------------------------------
BASKET_MIN_SUPPORT = 2
BASKET_TOP_K = 100


def q_x_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-purchased part pairs: frequent-itemset mining's pair pass
    (the support-counting core of Apriori / FP-growth's first level).

    Shape at scale: a SELF equi-join of the (order, part) item list on
    the order key — never an all-pairs cross product. Per-basket cost is
    k² in basket size, which TPC-H bounds at 7 items; real retail
    baskets are bounded by policy (cap items per basket before the join
    when k can run hot, the same guard as the LSH band-bucket caps).
    The `<` predicate canonicalizes the pair so each co-occurrence
    counts once. Aggregation is a single (part_a, part_b) shuffle with
    map-side partials; top-k goes through TakeOrdered, never a global
    sort (same contract as q15, pinned there).
    """
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= BASKET_MIN_SUPPORT)
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(BASKET_TOP_K)
    )


Q_X_BASKET_PAIRS_SQL = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
FROM items a
JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= {BASKET_MIN_SUPPORT}
ORDER BY n_orders DESC, part_a, part_b
LIMIT {BASKET_TOP_K}
"""


# --------------------------------------------------------------------------
# RFM customer segmentation (quartile scores without a global window)
# --------------------------------------------------------------------------
def q_x_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer RFM segmentation: quartile-score each customer on
    Recency / Frequency / Monetary, then count customers per segment.

    The textbook formulation is three ``ntile(4)`` global windows — a
    single-partition sort per score, the exact scale-killer class
    test_plans.py bans. Here each score comes from
    ``scale.two_phase_rank`` (range-repartition + per-partition
    row_number + broadcast offsets), so ranking a 10⁹-customer table
    spreads across the cluster. Score = floor((rank-1)·4/n)+1, which is
    reproduced verbatim in the oracle instead of ntile (ntile pads the
    FIRST buckets on non-divisible n; this formula is
    boundary-agnostic and identical on both engines).

    Monetary ranks on exact integer cents (the module's portable-sum
    trick) — ranking on a float sum would let association-order noise
    flip quartile boundaries between engines.
    """
    from bigdatagenomic_spark.operators.scale import two_phase_rank

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum(cents).alias("monetary_cents"),
        )
    )
    n = per.count()  # one scalar off a distributed count — bounded
    ranked = two_phase_rank(
        per, [F.desc("last_order"), F.asc("o_custkey")], rank_col="r_rank"
    )
    ranked = two_phase_rank(
        ranked, [F.desc("frequency"), F.asc("o_custkey")], rank_col="f_rank"
    )
    ranked = two_phase_rank(
        ranked, [F.desc("monetary_cents"), F.asc("o_custkey")], rank_col="m_rank"
    )

    def score(rank_col: str):
        return (F.floor((F.col(rank_col) - 1) * 4 / F.lit(n)) + 1).cast("int")

    return (
        ranked.select(
            score("r_rank").alias("r_score"),
            score("f_rank").alias("f_score"),
            score("m_rank").alias("m_score"),
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("r_score", "f_score", "m_score")
    )


Q_X_RFM_SEGMENTS_SQL = """
WITH per AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS frequency,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary_cents
  FROM orders GROUP BY 1
), ranked AS (
  SELECT o_custkey,
         row_number() OVER (ORDER BY last_order DESC, o_custkey) AS r_rank,
         row_number() OVER (ORDER BY frequency DESC, o_custkey) AS f_rank,
         row_number() OVER (ORDER BY monetary_cents DESC, o_custkey) AS m_rank,
         count(*) OVER () AS n
  FROM per
)
SELECT CAST(floor((r_rank - 1) * 4 / n) + 1 AS INT) AS r_score,
       CAST(floor((f_rank - 1) * 4 / n) + 1 AS INT) AS f_score,
       CAST(floor((m_rank - 1) * 4 / n) + 1 AS INT) AS m_score,
       count(*) AS n_customers
FROM ranked
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences
# --------------------------------------------------------------------------
def q_x_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types: for every
    (prev → next) adjacent pair in each user's timeline, the count and
    the row-normalized probability.

    The sequence window partitions by user_id — per-user slices are
    bounded, so no single-partition sort. Ordering is (ts, event_id):
    ts alone is NOT a total order (same-timestamp events would make the
    adjacent-pair multiset nondeterministic and break oracle parity).
    The normalizing window runs on the AGGREGATED matrix — at most
    |event_types|² rows by construction — not on the event log.
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("prev"),
        F.lead("event_type").over(w).alias("next"),
    )
    counts = (
        ev.where(F.col("next").isNotNull())
        .groupBy("prev", "next")
        .agg(F.count("*").alias("n"))
    )
    total = F.sum("n").over(W.partitionBy("prev"))
    return (
        counts.select(
            "prev", "next", "n", F.round(F.col("n") / total, 6).alias("p")
        )
        .orderBy("prev", "next")
    )


Q_X_MARKOV_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT event_type AS prev,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next
  FROM events
), counts AS (
  SELECT prev, next, count(*) AS n FROM seq
  WHERE next IS NOT NULL GROUP BY prev, next
)
SELECT prev, next, n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY prev), 6) AS p
FROM counts
ORDER BY prev, next
"""


# --------------------------------------------------------------------------
# sequential pattern support (the ORDERED dual of basket_pairs/lift_rules)
# --------------------------------------------------------------------------
def q_x_seq_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-2 sequential-pattern support over user event timelines
    (the support-counting core of AprioriAll / PrefixSpan's first
    level, Agrawal-Srikant 1995): for every ordered type pair a → b,
    how many users have SOME a-event strictly before SOME b-event,
    with per-antecedent confidence — the ordered dual of
    q_x_basket_pairs (itemsets ignore order; q_x_markov_transitions
    counts only ADJACENT pairs, this counts any-gap precedence).

    The existence algebra makes it grid-sized: user u supports a → b
    iff min_ts(u, a) < max_ts(u, b) — so the events table collapses to
    ONE per-(user, type) min/max aggregate (map-side combined), and
    the pattern join is a self equi-join of that grid on user_id with
    ≤ |event_types| rows per user per side (≤25 pairs/user at any
    event volume, never events²). a = b is the repeat pattern a → a
    (two a-events at distinct timestamps) and needs no special case:
    first < last is exactly "at least two distinct-ts events".
    Supports/conf emit as integer-exact micro BIGINTs; n_users_a and
    the 1-row user total attach by broadcast (≤|types| and 1 row).

    Tie contract: simultaneous events (equal ts) do not establish
    precedence — strict '<' on raw timestamps, identical in both
    engines, no epoch arithmetic (epoch would drag session-timezone
    casts into a vanilla-session difference for TIMESTAMP_NTZ; raw
    timestamp comparison is order-isomorphic and portable).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts")
        # NULL guard (ADVICE r12): a NULL event_type would survive the
        # groupBy into pat_a and the final ORDER BY then diverges
        # between engines (Spark asc = NULLS FIRST, DuckDB asc = NULLS
        # LAST); NULL user_id/ts can't establish precedence anyway.
        # Same explicit-filter convention as q_x_markov_transitions.
        .where(
            F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
        )
    )
    # localCheckpoint the grid: spans feeds FOUR consumers (a, b,
    # users_a, total) and the static plan would otherwise replay the
    # events scan + aggregate for each — the q_dedup_kmv lesson. The
    # checkpointed frame is |users|·|types| rows, trivially small;
    # the shuffle audit measured the un-checkpointed form at 4 fact
    # scans (shuffled rows still narrow, 13.9 B/row).
    spans = (
        ev.groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
        .localCheckpoint(eager=True)
    )
    a = spans.select(
        "user_id", F.col("event_type").alias("pat_a"), "first_ts"
    )
    b = spans.select(
        "user_id", F.col("event_type").alias("pat_b"), "last_ts"
    )
    supp = (
        a.join(b, "user_id")
        .where(F.col("first_ts") < F.col("last_ts"))
        .groupBy("pat_a", "pat_b")
        .agg(F.count("*").cast("long").alias("n_users"))
    )
    users_a = spans.groupBy(F.col("event_type").alias("pat_a")).agg(
        F.count("*").cast("long").alias("n_users_a")
    )
    total = spans.select("user_id").distinct().agg(
        F.count("*").cast("long").alias("n_total")
    )
    return (
        supp.join(F.broadcast(users_a), "pat_a")
        .crossJoin(F.broadcast(total))
        .select(
            "pat_a",
            "pat_b",
            "n_users",
            "n_users_a",
            # integer-exact micro ratios (house rule: no float division
            # crosses the engine boundary)
            F.expr("n_users * 1000000 div n_users_a").alias("conf_micro"),
            F.expr("n_users * 1000000 div n_total").alias("support_micro"),
        )
        .orderBy("pat_a", "pat_b")
    )


Q_X_SEQ_PATTERNS_SQL = """
WITH spans AS (
  SELECT user_id, event_type, min(ts) AS first_ts, max(ts) AS last_ts
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1, 2
), supp AS (
  SELECT a.event_type AS pat_a, b.event_type AS pat_b,
         CAST(count(*) AS BIGINT) AS n_users
  FROM spans a JOIN spans b
    ON a.user_id = b.user_id AND a.first_ts < b.last_ts
  GROUP BY 1, 2
), ua AS (
  SELECT event_type AS pat_a, CAST(count(*) AS BIGINT) AS n_users_a
  FROM spans GROUP BY 1
), tot AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_total FROM spans
)
SELECT pat_a, pat_b, n_users, n_users_a,
       CAST(n_users * 1000000 // n_users_a AS BIGINT) AS conf_micro,
       CAST(n_users * 1000000 // n_total AS BIGINT) AS support_micro
FROM supp JOIN ua USING (pat_a) CROSS JOIN tot
ORDER BY pat_a, pat_b
"""


# --------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis-Spirakis order stat)
# --------------------------------------------------------------------------
WEIGHTED_SAMPLE_K = 200


def q_x_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sample WITHOUT replacement: top-k orders by
    the Efraimidis-Spirakis key ln(u)/w (equivalent order to u^(1/w)),
    with u a deterministic content-hash uniform — the reproducible
    engine-portable form of weighted sampling, same rationale as
    reservoir_per_key's hash ranks. Training-data use: sample documents
    proportional to a quality weight when building a mixture.

    Scale shape: map-only key computation + TakeOrdered top-k; no
    global sort, no shuffle beyond the k-row reduction. The key is a
    transcendental over an md5 uniform, so Spark/DuckDB agree to ~1 ulp
    — adjacent keys are md5-spaced (>> 1 ulp), making the top-k set
    boundary deterministic; the reported key is rounded.
    """
    o = load_table(spark, sf_dir, "orders")
    hv = md5_long(F.col("o_orderkey").cast("string"))
    u = (F.pmod(hv, F.lit(1000000000)) + 1) / F.lit(1000000001.0)
    key = F.log(u) / F.col("o_totalprice")
    top = (
        o.select("o_orderkey", "o_totalprice", key.alias("es_key"))
        .orderBy(F.desc("es_key"), "o_orderkey")
        .limit(WEIGHTED_SAMPLE_K)
    )
    return top.select(
        "o_orderkey", "o_totalprice", F.round("es_key", 9).alias("es_key")
    ).orderBy("o_orderkey")


Q_X_WEIGHTED_SAMPLE_SQL = f"""
WITH h AS (
  SELECT o_orderkey, o_totalprice,
         CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)
              AS BIGINT) AS hv
  FROM orders
), keyed AS (
  SELECT o_orderkey, o_totalprice,
         ln(((hv % 1000000000) + 1) / 1000000001.0) / o_totalprice AS es_key
  FROM h
), top AS (
  SELECT * FROM keyed ORDER BY es_key DESC, o_orderkey LIMIT {WEIGHTED_SAMPLE_K}
)
SELECT o_orderkey, o_totalprice, round(es_key, 9) AS es_key
FROM top ORDER BY o_orderkey
"""


# --------------------------------------------------------------------------
# incremental aggregate maintenance (materialized-view upkeep)
# --------------------------------------------------------------------------
INCR_CUTOFF = "2024-07-01"


def q_x_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: a per-(user, event_type) running
    aggregate kept current by merging only the DELTA — never rescanning
    history. The prior state is the aggregate of events before a
    cutoff; the delta is everything after; merge = full-outer join on
    the group key + null-safe sums. The ORACLE aggregates the whole
    table in one pass, so the parity check proves the incremental
    merge is exactly equivalent to recomputation — the invariant that
    lets a 100 TB pipeline maintain daily aggregates at delta cost.

    Scale shape: state and delta aggregate independently (map-side
    partials), the merge joins on the SAME key both sides are already
    partitioned by, so AQE can reuse the delta's exchange; counts and
    cent-sums are associative, the condition for any merge-maintained
    view.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    cut = F.lit(INCR_CUTOFF).cast("timestamp_ntz")

    def agg(part: DataFrame) -> DataFrame:
        return part.groupBy("user_id", "event_type").agg(
            F.count("*").alias("n"), F.sum(cents).alias("cents")
        )

    # null ts routes to the delta (a malformed late row must never be
    # silently dropped from the view); group keys join null-safe so a
    # null-keyed group merges instead of splitting into two output rows
    state = agg(ev.where(F.col("ts") < cut))
    delta = agg(ev.where(F.col("ts").isNull() | (F.col("ts") >= cut)))
    s, d = state.alias("s"), delta.alias("d")
    merged = s.join(
        d,
        F.col("s.user_id").eqNullSafe(F.col("d.user_id"))
        & F.col("s.event_type").eqNullSafe(F.col("d.event_type")),
        "full_outer",
    ).select(
        F.coalesce("s.user_id", "d.user_id").alias("user_id"),
        F.coalesce("s.event_type", "d.event_type").alias("event_type"),
        (F.coalesce("s.n", F.lit(0)) + F.coalesce("d.n", F.lit(0))).alias("n"),
        (
            F.coalesce("s.cents", F.lit(0)) + F.coalesce("d.cents", F.lit(0))
        ).alias("cents"),
    )
    return merged.select(
        "user_id", "event_type", "n",
        (F.col("cents") / 100.0).alias("sum_value"),
    ).orderBy("user_id", "event_type")


Q_X_INCREMENTAL_AGG_SQL = """
SELECT user_id, event_type, count(*) AS n,
       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
FROM events
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""


# --------------------------------------------------------------------------
# point-in-time (temporal) join against an SCD2 dimension
# --------------------------------------------------------------------------
TEMPORAL_SPLIT = "2024-07-01"


def q_x_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each event joins the dimension version
    that was valid AT ITS EVENT TIME — the temporal-correctness join
    every feature store / fact-to-SCD2 pipeline needs (joining the
    CURRENT version leaks the future into training data).

    The dimension: every customer starts in tier 'basic'; customers
    with custkey % 3 == 0 upgrade to 'premium' at the split timestamp,
    producing two versions with touching validity intervals. The join
    is an EQUI join on the user key with the interval predicate as a
    residual filter — per-key version counts are tiny (here <= 2, in
    real SCD2 bounded by change frequency), so the key join carries the
    scale and the residual never explodes. Versions partition time, so
    exactly one version matches any event.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    split = F.lit(TEMPORAL_SPLIT).cast("timestamp_ntz")
    upgraded = F.col("c_custkey") % 3 == 0
    v1 = cust.select(
        "c_custkey",
        F.lit("basic").alias("tier"),
        F.lit("1900-01-01").cast("timestamp_ntz").alias("valid_from"),
        F.when(upgraded, split).alias("valid_to"),
    )
    v2 = cust.where(upgraded).select(
        "c_custkey",
        F.lit("premium").alias("tier"),
        split.alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    joined = ev.join(
        dim,
        (ev["user_id"] == dim["c_custkey"])
        & (ev["ts"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (ev["ts"] < dim["valid_to"])),
    )
    return (
        joined.groupBy("tier", "event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("tier", "event_type")
    )


Q_X_TEMPORAL_JOIN_SQL = f"""
WITH dim AS (
  SELECT c_custkey, 'basic' AS tier,
         TIMESTAMP '1900-01-01' AS valid_from,
         CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '{TEMPORAL_SPLIT}' END
           AS valid_to
  FROM customer
  UNION ALL
  SELECT c_custkey, 'premium', TIMESTAMP '{TEMPORAL_SPLIT}', NULL
  FROM customer WHERE c_custkey % 3 = 0
)
SELECT d.tier, e.event_type, count(*) AS n
FROM events e
JOIN dim d
  ON e.user_id = d.c_custkey
 AND e.ts >= d.valid_from
 AND (d.valid_to IS NULL OR e.ts < d.valid_to)
GROUP BY d.tier, e.event_type
ORDER BY d.tier, e.event_type
"""


# --------------------------------------------------------------------------
# cumulative distinct users (growth-curve analytics)
# --------------------------------------------------------------------------
def q_x_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative unique users by day — the growth curve. A naive
    running COUNT(DISTINCT) window rescans every prefix (quadratic);
    the scalable identity is: a user joins the cumulative count only
    on their FIRST day. One shuffle for the per-user min(ts), one
    bounded aggregate on the day key, and the running sum windows over
    the DAY DOMAIN (thousands of rows at any corpus size — the same
    documented bounded-window class as q_asm_n50's length histogram).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = ev.groupBy("user_id").agg(
        F.to_date(F.min("ts")).alias("first_day")
    )
    per_day = first_seen.groupBy("first_day").agg(
        F.count("*").alias("new_users")
    )
    w = W.orderBy("first_day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        per_day.select(
            F.col("first_day").alias("day"),
            "new_users",
            F.sum("new_users").over(w).alias("cum_users"),
        )
        .orderBy("day")
    )


Q_X_CUMULATIVE_USERS_SQL = """
WITH first_seen AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS first_day
  FROM events GROUP BY user_id
), per_day AS (
  SELECT first_day, count(*) AS new_users FROM first_seen GROUP BY first_day
)
SELECT first_day AS day, new_users,
       CAST(sum(new_users) OVER (ORDER BY first_day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum_users
FROM per_day ORDER BY day
"""


# --------------------------------------------------------------------------
# sequence-gap detection (missing-id ranges)
# --------------------------------------------------------------------------
def q_x_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing ranges in what should be a dense id sequence — the
    completeness probe run on ingestion feeds (dropped files, failed
    partitions leave id holes). A single unpartitioned lag window here
    would sort the whole distinct-id set in ONE task (the q_text_zipf
    scale-killer class), so the plan is two-phase like
    scale.two_phase_rank: range-repartition the distinct ids, lag
    INSIDE each partition (a partitioned window over contiguous
    slices), and reconcile the n_parts-1 partition seams from a
    bounded per-partition min/max collect — range boundaries respect
    the id order, so seam gaps are exactly (prev partition's max,
    next partition's min). Sampling every 7th and 11th order key makes
    the result non-degenerate on the dense TPC-H keys.
    """
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderkey") % 7 == 0) | (F.col("o_orderkey") % 11 == 0)
    )
    ids = o.select("o_orderkey").distinct()
    parts = (
        ids.repartitionByRange(16, "o_orderkey")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    w = W.partitionBy("_pid").orderBy("o_orderkey")
    local = parts.select(
        F.lag("o_orderkey").over(w).alias("gap_after"),
        F.col("o_orderkey").alias("next_present"),
    ).where(
        F.col("gap_after").isNotNull()
        & (F.col("next_present") - F.col("gap_after") > 1)
    )
    # seams: one (min, max) pair per non-empty partition — bounded by
    # the partition count, same class as two_phase_rank's offset fetch
    stats = sorted(
        parts.groupBy("_pid")
        .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
        .collect(),
        key=lambda r: r.lo,
    )
    seams = [
        (prev.hi, nxt.lo)
        for prev, nxt in zip(stats, stats[1:])
        if nxt.lo - prev.hi > 1
    ]
    spark_seams = local_frame(
        spark,
        seams,
        T.StructType(
            [T.StructField("gap_after", T.LongType()),
             T.StructField("next_present", T.LongType())]
        ),
    )
    return (
        local.unionByName(spark_seams)
        .select(
            "gap_after",
            "next_present",
            (F.col("next_present") - F.col("gap_after") - 1).alias("n_missing"),
        )
        .orderBy("gap_after")
    )


Q_X_SEQUENCE_GAPS_SQL = """
WITH ids AS (
  SELECT DISTINCT o_orderkey FROM orders
  WHERE o_orderkey % 7 = 0 OR o_orderkey % 11 = 0
), lagged AS (
  SELECT lag(o_orderkey) OVER (ORDER BY o_orderkey) AS gap_after,
         o_orderkey AS next_present
  FROM ids
)
SELECT gap_after, next_present, next_present - gap_after - 1 AS n_missing
FROM lagged
WHERE gap_after IS NOT NULL AND next_present - gap_after > 1
ORDER BY gap_after
"""


# --------------------------------------------------------------------------
# funnel conversion rates (stage-to-stage, integer bps)
# --------------------------------------------------------------------------
def q_x_funnel_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_x_funnel's stage counts annotated with stage-to-stage and
    overall conversion in exact integer basis points. The lag window
    runs over the 3-row funnel output — a bounded domain by
    construction (stage count is fixed), the documented safe-window
    class. first_value supplies the stage-1 denominator without a
    second pass.
    """
    counts = funnel_counts(load_table(spark, sf_dir, "events"))
    w = W.orderBy("stage")
    prev = F.lag("n_users").over(w)
    first = F.first("n_users").over(
        w.rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        counts.withColumn("prev", prev)
        .withColumn("first", first)
        .select(
            "stage",
            "step",
            "n_users",
            F.when(F.col("prev").isNull(), F.lit(10000).cast("long"))
            .otherwise(
                F.expr("(2 * n_users * 10000 + prev) div (2 * prev)")
            )
            .alias("step_bps"),
            F.expr("(2 * n_users * 10000 + first) div (2 * first)").alias(
                "overall_bps"
            ),
        )
        .orderBy("stage")
    )


Q_X_FUNNEL_RATES_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t1
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t0
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t1
  GROUP BY e.user_id
), counts AS (
  SELECT 1 AS stage, 'view' AS step, count(*) AS n_users FROM s1
  UNION ALL SELECT 2, 'click', count(*) FROM s2
  UNION ALL SELECT 3, 'purchase', count(*) FROM s3
), lagged AS (
  SELECT stage, step, n_users,
         lag(n_users) OVER (ORDER BY stage) AS prev,
         first_value(n_users) OVER (ORDER BY stage) AS first
  FROM counts
)
SELECT stage, step, n_users,
       CASE WHEN prev IS NULL THEN CAST(10000 AS BIGINT)
            ELSE (2 * n_users * 10000 + prev) // (2 * prev) END AS step_bps,
       (2 * n_users * 10000 + first) // (2 * first) AS overall_bps
FROM lagged ORDER BY stage
"""


# --------------------------------------------------------------------------
# revenue concentration by customer decile (Pareto curve)
# --------------------------------------------------------------------------
def q_x_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 curve: customers ranked by lifetime revenue, split
    into deciles with each decile's share of total revenue in exact
    integer basis points. Rank comes from scale.two_phase_rank (no
    single-partition window over the customer table); revenue sums in
    integer cents end to end, so shares are association-order-proof;
    the 1-row total is the allowlisted broadcast-scalar pattern.
    """
    from bigdatagenomic_spark.operators.scale import two_phase_rank

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(cents).alias("cents"))
    )
    n = per_cust.count()
    ranked = two_phase_rank(
        per_cust, [F.desc("cents"), F.asc("o_custkey")], rank_col="rk"
    )
    decile = (F.floor((F.col("rk") - 1) * 10 / F.lit(n)) + 1).cast("int")
    per_decile = ranked.select(decile.alias("decile"), "cents").groupBy(
        "decile"
    ).agg(F.count("*").alias("n_customers"), F.sum("cents").alias("rev_cents"))
    total = per_decile.agg(F.sum("rev_cents").alias("_t"))
    return (
        per_decile.crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_customers",
            (F.col("rev_cents") / 100.0).alias("revenue"),
            F.expr("(2 * rev_cents * 10000 + _t) div (2 * _t)").alias(
                "share_bps"
            ),
        )
        .orderBy("decile")
    )


Q_X_REVENUE_DECILES_SQL = """
WITH per_cust AS (
  SELECT o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents DESC, o_custkey) AS rk,
         count(*) OVER () AS n
  FROM per_cust
), per_decile AS (
  SELECT CAST(floor((rk - 1) * 10 / n) + 1 AS INT) AS decile,
         count(*) AS n_customers,
         CAST(sum(cents) AS BIGINT) AS rev_cents
  FROM ranked GROUP BY 1
), t AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS _t FROM per_decile)
SELECT decile, n_customers, rev_cents / 100.0 AS revenue,
       (2 * rev_cents * 10000 + _t) // (2 * _t) AS share_bps
FROM per_decile, t
ORDER BY decile
"""


# ---------------------------------------------------------------------------
# time-series resample + forward fill (gap-filled hourly grid)
# ---------------------------------------------------------------------------
RESAMPLE_USERS = 8  # bounded demo slice; the operator itself is per-user


def resample_ffill(events: DataFrame, n_slots: int = 24) -> DataFrame:
    """(user_id, slot, value, filled) — each user's day-1 'value' series
    resampled onto a dense hourly grid: the LAST observation inside a
    slot wins, empty slots forward-fill from the previous slot, and
    slots before a user's first observation stay NULL (flagged).
    The standard time-series densification (metrics dashboards, feature
    grids) the engine must express without a driver loop.

    Scale shape: the dense grid is built by EXPLODING a per-user slot
    sequence (map-side, no cross join); in-slot last-wins is a window
    over (user, slot) buckets and the forward fill is
    ``last(ignorenulls)`` over the user's ordered slots — both bounded
    per user (n_slots rows), so partitions stay small however many
    users there are.
    """
    day1 = events.where(
        (F.col("user_id") < RESAMPLE_USERS)
        & (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-02").cast("timestamp"))
    ).select("user_id", "ts", "event_id", "value", F.hour("ts").alias("slot"))
    pick = W.partitionBy("user_id", "slot").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    obs = (
        day1.withColumn("_rn", F.row_number().over(pick))
        .where(F.col("_rn") == 1)
        .select("user_id", "slot", F.col("value").alias("obs_value"))
    )
    grid = (
        day1.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(n_slots - 1))).alias("slot"),
        )
    )
    ffill = W.partitionBy("user_id").orderBy("slot").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        grid.join(obs, ["user_id", "slot"], "left")
        .select(
            "user_id",
            "slot",
            F.last("obs_value", ignorenulls=True).over(ffill).alias("value"),
            F.col("obs_value").isNull().alias("filled"),
        )
    )


def q_x_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resample_ffill(load_table(spark, sf_dir, "events")).orderBy(
        "user_id", "slot"
    )


Q_X_RESAMPLE_FFILL_SQL = f"""
WITH day1 AS (
  SELECT user_id, ts, event_id, value,
         CAST(extract(hour FROM ts) AS INT) AS slot
  FROM events
  WHERE user_id < {RESAMPLE_USERS}
    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-02'),
obs AS (
  SELECT user_id, slot, value AS obs_value FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM day1) WHERE rn = 1),
grid AS (
  SELECT u.user_id, CAST(s.slot AS INT) AS slot
  FROM (SELECT DISTINCT user_id FROM day1) u,
       (SELECT unnest(range(0, 24)) AS slot) s)
SELECT g.user_id, g.slot,
       last_value(o.obs_value IGNORE NULLS)
         OVER (PARTITION BY g.user_id ORDER BY g.slot
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       o.obs_value IS NULL AS filled
FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.slot = o.slot
ORDER BY g.user_id, g.slot
"""


# ---------------------------------------------------------------------------
# A/B experiment readout (two-proportion conversion lift + z-score)
# ---------------------------------------------------------------------------
ABTEST_VALUE_MIN = 200.0  # conversion = a purchase above this value


def abtest_readout(events: DataFrame) -> DataFrame:
    """(variant, n_users, n_converted, cvr, lift_pct, z_score) — the
    standard experiment readout: users hash-split into control (A) and
    treatment (B) by a deterministic id hash, conversion = the user
    made at least one high-value purchase (> ABTEST_VALUE_MIN; an
    any-purchase definition saturates at 100%% on this table, making
    the pooled standard error 0). The two-proportion z uses the pooled
    rate; lift is B vs A in percent. Deterministic end to end
    (assignment is a hash, all stats close over exact integer counts,
    and every float step is the same expression tree in the oracle);
    degenerate arms (zero control conversions, zero spread) yield NULL
    via try_divide, matching SQL division-by-zero semantics.

    Scale: one distinct-user aggregate (conversion is an any-match
    flag via max), one 2-row group-by, one broadcast self-join of the
    2-row readout to place A's rate next to B's. Nothing user-scaled
    past the first aggregate.
    """
    per_user = events.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > ABTEST_VALUE_MIN)
            ).cast("int")
        ).alias("converted")
    )
    assigned = per_user.select(
        F.when(F.pmod(md5_long(F.col("user_id").cast("string")), F.lit(2)) == 0,
               F.lit("A")).otherwise(F.lit("B")).alias("variant"),
        "converted",
    )
    g = assigned.groupBy("variant").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    a = g.where(F.col("variant") == "A").select(
        F.col("n_users").alias("na"), F.col("n_converted").alias("ca")
    )
    readout = g.crossJoin(F.broadcast(a))
    p = F.col("n_converted") / F.col("n_users")
    pa = F.col("ca") / F.col("na")
    pooled = (F.col("n_converted") + F.col("ca")) / (F.col("n_users") + F.col("na"))
    se = F.sqrt(
        pooled * (1 - pooled) * (1.0 / F.col("n_users") + 1.0 / F.col("na"))
    )
    return readout.select(
        "variant",
        "n_users",
        "n_converted",
        F.round(p, 4).alias("cvr"),
        F.round(F.try_divide(p - pa, pa) * 100, 4).alias("lift_pct"),
        F.round(F.try_divide(p - pa, se), 4).alias("z_score"),
    )


def q_x_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return abtest_readout(load_table(spark, sf_dir, "events")).orderBy("variant")


Q_X_ABTEST_SQL = """
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > 200.0
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id),
assigned AS (
  SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 2 = 0
              THEN 'A' ELSE 'B' END AS variant,
         converted
  FROM per_user),
g AS (
  SELECT variant, count(*) AS n_users,
         CAST(sum(converted) AS BIGINT) AS n_converted
  FROM assigned GROUP BY variant),
a AS (SELECT n_users AS na, n_converted AS ca FROM g WHERE variant = 'A')
SELECT g.variant, g.n_users, g.n_converted,
       round(g.n_converted / CAST(g.n_users AS DOUBLE), 4) AS cvr,
       round((g.n_converted / CAST(g.n_users AS DOUBLE)
              - a.ca / CAST(a.na AS DOUBLE))
             / (a.ca / CAST(a.na AS DOUBLE)) * 100, 4) AS lift_pct,
       round((g.n_converted / CAST(g.n_users AS DOUBLE)
              - a.ca / CAST(a.na AS DOUBLE))
             / sqrt(((g.n_converted + a.ca)
                     / CAST(g.n_users + a.na AS DOUBLE))
                    * (1 - (g.n_converted + a.ca)
                           / CAST(g.n_users + a.na AS DOUBLE))
                    * (1.0 / g.n_users + 1.0 / a.na)), 4) AS z_score
FROM g, a ORDER BY g.variant
"""


# ---------------------------------------------------------------------------
# EWMA smoothing over the resampled grid (alpha = 1/2, engine-exact)
# ---------------------------------------------------------------------------
def ewma_half(grid: DataFrame) -> DataFrame:
    """(user_id, slot, value, ewma) — exponentially weighted moving
    average with alpha = 1/2 over each user's dense slot grid
    (s_t = x_t/2 + s_{t-1}/2, s_0 = x_0), via the closed form

        s_t = (x_0 + sum_{k=1..t} x_k * 2^(k-1)) / 2^t

    alpha = 1/2 is chosen deliberately: every weight is a power of two,
    so each product x_k * 2^(k-1) is EXACT in IEEE doubles and the two
    engines' identical-order cumulative sums agree bit-for-bit — a
    general alpha would make the smoothing a float-pow ulp lottery.
    One bounded per-user window (the grid is n_slots rows per user),
    same scale shape as the resample that feeds it. NULL slots (before
    a user's first observation) contribute 0.
    """
    cum = W.partitionBy("user_id").orderBy("slot").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    x = F.coalesce(F.col("value"), F.lit(0.0))
    term = F.when(F.col("slot") == 0, x).otherwise(
        x * F.pow(F.lit(2.0), F.col("slot") - 1)
    )
    return (
        grid.withColumn("_term", term)
        .withColumn(
            "ewma",
            F.round(
                F.sum("_term").over(cum) / F.pow(F.lit(2.0), F.col("slot")), 4
            ),
        )
        .drop("_term")
    )


def q_x_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = resample_ffill(load_table(spark, sf_dir, "events")).select(
        "user_id", "slot", "value"
    )
    return ewma_half(grid).orderBy("user_id", "slot")


Q_X_EWMA_SQL = f"""
WITH day1 AS (
  SELECT user_id, ts, event_id, value,
         CAST(extract(hour FROM ts) AS INT) AS slot
  FROM events
  WHERE user_id < {RESAMPLE_USERS}
    AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-02'),
obs AS (
  SELECT user_id, slot, value AS obs_value FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, slot
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM day1) WHERE rn = 1),
grid AS (
  SELECT u.user_id, CAST(s.slot AS INT) AS slot
  FROM (SELECT DISTINCT user_id FROM day1) u,
       (SELECT unnest(range(0, 24)) AS slot) s),
filled AS (
  SELECT g.user_id, g.slot,
         last_value(o.obs_value IGNORE NULLS)
           OVER (PARTITION BY g.user_id ORDER BY g.slot
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
  FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.slot = o.slot),
terms AS (
  SELECT user_id, slot, value,
         CASE WHEN slot = 0 THEN coalesce(value, 0.0)
              ELSE coalesce(value, 0.0) * pow(2.0, slot - 1) END AS term
  FROM filled)
SELECT user_id, slot, value,
       round(sum(term) OVER (PARTITION BY user_id ORDER BY slot
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / pow(2.0, slot), 4) AS ewma
FROM terms ORDER BY user_id, slot
"""


# ---------------------------------------------------------------------------
# null imputation (per-group mean, integer-exact)
# ---------------------------------------------------------------------------
def impute_group_mean(events: DataFrame) -> DataFrame:
    """(event_id, event_type, value_raw, value_imputed, was_imputed) —
    fill NULL metric values with their group's mean, the baseline ML
    imputation. The demo plants NULLs deterministically (every 7th
    event) since the table has none; the operator is the general shape.

    The group mean is computed in EXACT integer cents with half-up
    rounding ((2*sum + n) div (2n), the q_pipeline_curation pattern):
    averaging doubles lets partial-sum association order flip a
    half-cent boundary between engines. One aggregate + one broadcast
    join of the |groups|-row mean table; map-only otherwise.
    """
    base = events.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value_raw"),
    )
    means = (
        base.where(F.col("value_raw").isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum(F.round(F.col("value_raw") * 100).cast("long")).alias("_sc"),
            F.count("*").alias("_n"),
        )
        .select(
            "event_type",
            (F.expr("(2 * _sc + _n) div (2 * _n)") / 100.0).alias("_mean"),
        )
    )
    return base.join(F.broadcast(means), "event_type", "left").select(
        "event_id",
        "event_type",
        "value_raw",
        F.coalesce("value_raw", "_mean").alias("value_imputed"),
        F.col("value_raw").isNull().alias("was_imputed"),
    )


def q_x_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    return impute_group_mean(load_table(spark, sf_dir, "events")).orderBy(
        "event_id"
    )


Q_X_IMPUTE_SQL = """
WITH base AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value_raw
  FROM events),
means AS (
  SELECT event_type,
         ((2 * sum(CAST(round(value_raw * 100) AS BIGINT)) + count(*))
          // (2 * count(*))) / 100.0 AS _mean
  FROM base WHERE value_raw IS NOT NULL GROUP BY event_type)
SELECT b.event_id, b.event_type, b.value_raw,
       coalesce(b.value_raw, m._mean) AS value_imputed,
       b.value_raw IS NULL AS was_imputed
FROM base b LEFT JOIN means m USING (event_type)
ORDER BY b.event_id
"""


# ---------------------------------------------------------------------------
# sequence pattern detection (MATCH_RECOGNIZE shape)
# ---------------------------------------------------------------------------
PATTERN = ("error", "error", "purchase")  # A A B within one user's stream


def event_pattern_matches(events: DataFrame) -> DataFrame:
    """(user_id, match_at, ts0) — occurrences of the fixed event-type
    pattern ``error, error, purchase`` at CONSECUTIVE positions of each
    user's time-ordered stream: the MATCH_RECOGNIZE shape (fraud rules,
    rage-click detection, crash-then-convert funnels) expressed as a
    lead-chain over one per-user window — no self-joins, one shuffle
    on user_id, each partition bounded by a user's event count (the
    production form adds a time/session cut exactly like q_x_sessionize
    to bound it further).

    Overlapping matches all report (a run of 3 errors + purchase yields
    one match at the last two errors' start); ``match_at`` is the
    0-based position of the pattern's first event.
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        (F.row_number().over(w) - 1).alias("pos"),
    )
    hit = (
        (F.col("event_type") == PATTERN[0])
        & (F.col("t1") == PATTERN[1])
        & (F.col("t2") == PATTERN[2])
    )
    return seq.where(hit).select(
        "user_id",
        F.col("pos").cast("long").alias("match_at"),
        F.col("ts").alias("ts0"),
    )


def q_x_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    return event_pattern_matches(load_table(spark, sf_dir, "events")).orderBy(
        "user_id", "match_at"
    )


Q_X_EVENT_PATTERN_SQL = """
WITH seq AS (
  SELECT user_id, ts, event_type,
         lead(event_type, 1) OVER w AS t1,
         lead(event_type, 2) OVER w AS t2,
         row_number() OVER w - 1 AS pos
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, CAST(pos AS BIGINT) AS match_at, ts AS ts0
FROM seq
WHERE event_type = 'error' AND t1 = 'error' AND t2 = 'purchase'
ORDER BY user_id, match_at
"""


# ---------------------------------------------------------------------------
# entity resolution: normalize -> match -> cluster -> golden record
# ---------------------------------------------------------------------------
ER_MAX_BLOCK = 64  # per-block record cap before key refinement kicks in
ER_KEY_SEP = "\x01"


def er_candidate_edges(base: DataFrame, max_block: int = ER_MAX_BLOCK) -> DataFrame:
    """(src, dst) candidate links from hub-protected blocking.

    The naive match (`a.join(b, "norm")`) is quadratic in the largest
    block: one hub key — thousands of records normalizing to the same
    name, routine in real MDM feeds — and the self-join explodes. Same
    frequency-cap discipline as winnow_pairs' ``max_posting``
    (operators/text.py) and the boilerplate frequency cut, applied to
    blocking keys:

    1. count records per ``norm``; blocks within ``max_block`` link on
       ``norm`` as before;
    2. oversized blocks REFINE the key to (norm, segment) — a second
       quasi-identifier splits the hub;
    3. blocks still oversized after refinement are routed out of
       linking entirely (their records surface as singleton clusters —
       the human-review queue), so no block ever generates more than
       C(max_block, 2) pairs.

    Both count passes aggregate to one row per key (map-side combined);
    the pair join stays an equi-join on the final block key. `base`
    must carry (id, norm, segment).
    """
    bn = base.groupBy("norm").agg(F.count("*").alias("n_norm"))
    keyed = base.join(bn, "norm").select(
        "id",
        F.when(F.col("n_norm") <= max_block, F.col("norm"))
        .otherwise(F.concat("norm", F.lit(ER_KEY_SEP), "segment"))
        .alias("bkey"),
    )
    kn = keyed.groupBy("bkey").agg(F.count("*").alias("n_bkey"))
    linkable = (
        keyed.join(kn, "bkey")
        .where(F.col("n_bkey") <= max_block)
        .select("id", "bkey")
    )
    a = linkable.select(F.col("id").alias("src"), "bkey")
    b = linkable.select(F.col("id").alias("dst"), "bkey")
    return (
        a.join(b, "bkey").where(F.col("src") < F.col("dst")).select("src", "dst")
    )


def golden_records(records: DataFrame, max_block: int = ER_MAX_BLOCK) -> DataFrame:
    """(cluster, n_members, golden_name, golden_acctbal, golden_segment)
    — the MDM survivorship pipeline: normalize the match key, link
    records whose normalized names agree, close the links into entity
    clusters (transitively — A~B, B~C puts A,C together), and emit ONE
    golden record per entity with field-level survivorship rules
    (canonical id = lowest member id; balance = max; segment = the
    canonical record's). The text-corpus twin is q_dedup_survivors;
    this is the warehouse-records form with per-field merge rules.

    Scale: the match is an equi-join on the HUB-PROTECTED block key
    (:func:`er_candidate_edges` — per-key frequency cap, oversize
    blocks refined by segment, still-oversize blocks routed to
    singleton/review instead of a quadratic self-join; never fuzzy
    all-pairs — a fuzzy rule would plug in the blocked q_dedup_fuzzy
    pairs instead), the closure is hash-min pointer jumping (O(log
    diameter) rounds, operators/graph.py), survivorship one aggregate.
    """
    from bigdatagenomic_spark.functions import normalize_text
    from bigdatagenomic_spark.operators.graph import connected_components

    base = records.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        normalize_text(F.col("c_name")).alias("norm"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    ).localCheckpoint(eager=False)
    edges = er_candidate_edges(base, max_block=max_block)
    cc = connected_components(edges)
    labeled = base.join(cc, "id", "left").select(
        F.coalesce("component", F.col("id")).alias("cluster"),
        "id",
        "name",
        "acctbal",
        "segment",
    )
    return labeled.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members"),
        F.min(F.struct("id", "name"))["name"].alias("golden_name"),
        F.max("acctbal").alias("golden_acctbal"),
        F.min(F.struct("id", "segment"))["segment"].alias("golden_segment"),
    )


ER_DUP_EVERY = 10  # plant a noisy duplicate of every 10th customer


def q_x_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER demo: the customer table plus planted noisy duplicates (name
    case/whitespace-mangled, id offset, balance drifted) — the
    normalize step must reunite them and survivorship must pick the
    original id's fields with the max balance."""
    c = load_table(spark, sf_dir, "customer")
    dup = c.where(F.col("c_custkey") % ER_DUP_EVERY == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.concat(F.lit("  "), F.upper("c_name"), F.lit(" ")).alias("c_name"),
        (F.col("c_acctbal") + 7.5).alias("c_acctbal"),
        F.lit("DUPFEED").alias("c_mktsegment"),
    )
    both = c.select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    ).unionByName(dup)
    return golden_records(both).orderBy("cluster")


Q_X_GOLDEN_RECORD_SQL = f"""
WITH RECURSIVE allrec AS (
  SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
  UNION ALL
  SELECT c_custkey + 1000000, '  ' || upper(c_name) || ' ',
         c_acctbal + 7.5, 'DUPFEED'
  FROM customer WHERE c_custkey % {ER_DUP_EVERY} = 0),
base AS (
  SELECT c_custkey AS id, c_name AS name,
         trim(regexp_replace(lower(c_name), '\\s+', ' ', 'g')) AS norm,
         c_acctbal AS acctbal, c_mktsegment AS segment
  FROM allrec),
bn AS (
  SELECT norm, count(*) AS n_norm FROM base GROUP BY norm),
keyed AS (
  SELECT base.id, base.segment,
         CASE WHEN bn.n_norm <= {ER_MAX_BLOCK} THEN base.norm
              ELSE base.norm || chr(1) || base.segment END AS bkey
  FROM base JOIN bn USING (norm)),
kn AS (
  SELECT bkey, count(*) AS n_bkey FROM keyed GROUP BY bkey),
linkable AS (
  SELECT keyed.id, keyed.bkey FROM keyed JOIN kn USING (bkey)
  WHERE kn.n_bkey <= {ER_MAX_BLOCK}),
e AS (
  SELECT a.id AS src, b.id AS dst
  FROM linkable a JOIN linkable b USING (bkey) WHERE a.id < b.id),
und AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e),
reach AS (
  SELECT src AS id, dst AS r FROM und
  UNION
  SELECT reach.id, u.dst FROM reach JOIN und u ON reach.r = u.src),
cc AS (
  SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
labeled AS (
  SELECT coalesce(cc.component, base.id) AS cluster, base.id, base.name,
         base.acctbal, base.segment
  FROM base LEFT JOIN cc USING (id))
SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
       (min(struct_pack(i := id, v := name))).v AS golden_name,
       max(acctbal) AS golden_acctbal,
       (min(struct_pack(i := id, v := segment))).v AS golden_segment
FROM labeled GROUP BY cluster ORDER BY cluster
"""


# ---------------------------------------------------------------------------
# last-touch attribution (marketing-funnel credit assignment)
# ---------------------------------------------------------------------------

ATTR_TOUCH_TYPES = ("click", "view", "signup")
ATTR_CONVERT_TYPE = "purchase"
ATTR_LOOKBACK_SEC = 7200  # 2h credit window


def q_x_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: credit each purchase to the latest prior
    touch event (click/view/signup) by the same user, within a 2-hour
    lookback — the standard marketing-warehouse credit assignment.

    One window pass does everything: ``last(..., ignorenulls)`` over
    (user, ts, event_id) with a ROWS UNBOUNDED..1-PRECEDING frame
    carries the most recent touch's id/type/epoch alongside every
    event; purchases outside the lookback (or with no prior touch)
    come out explicitly unattributed. Scale shape: a single exchange
    keyed on the high-cardinality user_id, then map-only arithmetic —
    no join, no second scan of events.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin(*ATTR_TOUCH_TYPES)

    def last_touch(col):
        return F.last(F.when(is_touch, col), ignorenulls=True).over(w)

    carried = e.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_timestamp("ts").alias("ts_epoch"),
        last_touch(F.col("event_id")).alias("t_id"),
        last_touch(F.col("event_type")).alias("t_type"),
        last_touch(F.unix_timestamp("ts")).alias("t_epoch"),
    )
    purchases = carried.where(F.col("event_type") == ATTR_CONVERT_TYPE)
    in_window = (
        F.col("t_id").isNotNull()
        & ((F.col("ts_epoch") - F.col("t_epoch")) <= ATTR_LOOKBACK_SEC)
    )
    return purchases.select(
        "event_id",
        "user_id",
        round2_portable(F.col("value")).alias("value"),
        F.when(in_window, F.col("t_id")).alias("touch_event_id"),
        F.when(in_window, F.col("t_type")).alias("touch_type"),
        F.when(in_window, F.col("ts_epoch") - F.col("t_epoch"))
        .cast("long")
        .alias("secs_since_touch"),
        in_window.alias("attributed"),
    ).orderBy("event_id")


_ATTR_TOUCH_SQL = "', '".join(ATTR_TOUCH_TYPES)
Q_X_ATTRIBUTION_SQL = f"""
WITH e AS (
  SELECT event_id, user_id, event_type, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch, ts
  FROM events
), carried AS (
  SELECT event_id, user_id, event_type, value, ts_epoch,
         last_value(CASE WHEN event_type IN ('{_ATTR_TOUCH_SQL}')
                         THEN event_id END IGNORE NULLS)
           OVER w AS t_id,
         last_value(CASE WHEN event_type IN ('{_ATTR_TOUCH_SQL}')
                         THEN event_type END IGNORE NULLS)
           OVER w AS t_type,
         last_value(CASE WHEN event_type IN ('{_ATTR_TOUCH_SQL}')
                         THEN ts_epoch END IGNORE NULLS)
           OVER w AS t_epoch
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id,
       floor(value * 100 + 0.5) / 100 AS value,
       CASE WHEN t_id IS NOT NULL
                 AND ts_epoch - t_epoch <= {ATTR_LOOKBACK_SEC}
            THEN t_id END AS touch_event_id,
       CASE WHEN t_id IS NOT NULL
                 AND ts_epoch - t_epoch <= {ATTR_LOOKBACK_SEC}
            THEN t_type END AS touch_type,
       CAST(CASE WHEN t_id IS NOT NULL
                      AND ts_epoch - t_epoch <= {ATTR_LOOKBACK_SEC}
                 THEN ts_epoch - t_epoch END AS BIGINT) AS secs_since_touch,
       (t_id IS NOT NULL AND ts_epoch - t_epoch <= {ATTR_LOOKBACK_SEC})
         AS attributed
FROM carried
WHERE event_type = '{ATTR_CONVERT_TYPE}'
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# Skyline (Pareto frontier) query
# ---------------------------------------------------------------------------

def q_x_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline over parts: every part not dominated on
    (minimize p_retailprice, maximize p_size) — the Pareto-frontier
    query (Börzsönyi et al., ICDE 2001) behind "best tradeoff"
    shortlists. A part is dominated when some other part is
    cheaper-or-equal AND bigger-or-equal with at least one strict.

    The naive NOT EXISTS dominance test is an O(n²) inequality
    self-join. The 2-D skyline admits a linear formulation: group to
    per-price max sizes, and a price level is on the frontier iff its
    max size beats the EXCLUSIVE running max over all strictly cheaper
    price levels — a record-detection pass. That prefix max runs
    through :func:`two_phase_prefix_max` (range-partitioned, pinned
    pids, broadcast offsets), so there is NO single-partition window
    and no quadratic join at any cardinality; the final join back to
    part rows is an equi-join on (price, size). Ties: equal (price,
    size) rows do not dominate each other (no strict coordinate), so
    all of them stay — the groupBy/join-back reproduces exactly the
    NOT EXISTS semantics (pinned by the brute-force property test).
    """
    from bigdatagenomic_spark.operators.scale import two_phase_prefix_max

    p = load_table(spark, sf_dir, "part")
    m = p.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("msize")
    )
    pm = two_phase_prefix_max(
        m, "msize", [F.col("price").asc()], out_col="_pm", inclusive=False
    )
    sky = pm.where(F.col("_pm").isNull() | (F.col("msize") > F.col("_pm")))
    return (
        p.join(
            sky,
            (p["p_retailprice"] == sky["price"]) & (p["p_size"] == sky["msize"]),
            "left_semi",
        )
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_partkey")
    )


Q_X_SKYLINE_SQL = """
WITH m AS (
  SELECT p_retailprice AS price, max(p_size) AS msize
  FROM part GROUP BY p_retailprice),
w AS (
  SELECT price, msize,
         max(msize) OVER (ORDER BY price
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM m),
sky AS (SELECT price, msize FROM w WHERE pm IS NULL OR msize > pm)
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p JOIN sky s ON p.p_retailprice = s.price AND p.p_size = s.msize
ORDER BY p.p_partkey
"""


# ---------------------------------------------------------------------------
# Item-item co-occurrence cosine (embedding-free similarity)
# ---------------------------------------------------------------------------

ITEM_COS_MIN_PAIRS = 2
ITEM_COS_TOP = 50


def q_x_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item cosine over the order-part co-occurrence matrix:
    ``sim(a,b) = n_ab / sqrt(n_a * n_b)`` — the embedding-free
    collaborative-filtering similarity (the classic "customers who
    bought" primitive, and the sparse counterpart of q26's dense
    cosine; Deshpande & Karypis 2004). Built on the q_x_basket_pairs
    pair pass: one self equi-join on the basket key (k² per basket,
    never all-pairs), per-item supports from one count aggregate,
    supports attached by two joins on the item key. A min-support
    floor (n_ab >= 2) drops the noise pairs BEFORE the support joins —
    at retail scale that floor is what keeps the pair table sparse.
    Top-N goes through TakeOrdered; ties break on the pair key.
    """
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    support = items.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count("*").cast("long").alias("n")
    )
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").cast("long").alias("n_ab"))
        .where(F.col("n_ab") >= ITEM_COS_MIN_PAIRS)
    )
    sa = support.select(F.col("p").alias("part_a"), F.col("n").alias("n_a"))
    sb = support.select(F.col("p").alias("part_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.col("n_ab") / F.sqrt(F.col("n_a") * F.col("n_b")), 4
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "part_a", "part_b")
        .limit(ITEM_COS_TOP)
    )


Q_X_ITEM_COSINE_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
support AS (
  SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS n
  FROM items GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {ITEM_COS_MIN_PAIRS})
SELECT p.part_a, p.part_b, p.n_ab, sa.n AS n_a, sb.n AS n_b,
       round(p.n_ab / sqrt(sa.n * sb.n), 4) AS cosine
FROM pairs p
JOIN support sa ON p.part_a = sa.p
JOIN support sb ON p.part_b = sb.p
ORDER BY cosine DESC, part_a, part_b
LIMIT {ITEM_COS_TOP}
"""


# ---------------------------------------------------------------------------
# Rolling correlation between two event series
# ---------------------------------------------------------------------------

ROLL_CORR_W = 14


def q_x_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 14-day Pearson correlation between the click and
    purchase daily volumes — the co-movement monitor behind funnel
    health dashboards (a correlation break flags tracking loss or a
    funnel change long before totals move). One daily pivot aggregate,
    then Pearson correlation over a rows-frame window on the
    calendar-bounded joined series; emitted only where the window is
    full. Rounds at 6 decimals (the q_x_stat_aggs corr precedent).

    ANSI note: ``F.corr(...).over(w)`` is NOT used — under Spark 4's
    default ANSI mode the window operator evaluates the aggregate's
    internal division before any Project-level guard can run, so a
    zero-variance window (14 constant days, plausible in sparse
    corpora) throws DIVIDE_BY_ZERO and kills the job. Instead the
    window computes six exact BIGINT moment sums (count/sum/sum-of-
    products — no division inside the window), and the correlation is
    assembled in the Project where a CASE guard short-circuits: NULL
    when either side has zero variance, matching DuckDB corr. The
    moment sums are order-independent integers, so engine and oracle
    agree bit-for-bit before the single float divide. BIGINT bound:
    cov ~ W²·max(x·y) — overflow needs ~8e8 events/day; document a
    pre-scale (daily counts in thousands) before that regime.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & F.col("event_type").isin("click", "purchase")
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("n_click"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias(
            "n_purchase"
        ),
    )
    w = W.orderBy("day").rowsBetween(-(ROLL_CORR_W - 1), 0)
    x, y = F.col("n_click"), F.col("n_purchase")
    out = daily.select(
        "day",
        x.cast("long").alias("n_click"),
        y.cast("long").alias("n_purchase"),
        F.count("*").over(w).alias("_n"),
        F.sum(x).over(w).alias("_sx"),
        F.sum(y).over(w).alias("_sy"),
        F.sum(x * y).over(w).alias("_sxy"),
        F.sum(x * x).over(w).alias("_sxx"),
        F.sum(y * y).over(w).alias("_syy"),
    )
    cov = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    vx = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vy = F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")
    corr = F.when(
        (vx > 0) & (vy > 0),
        F.round(
            cov.cast("double")
            / F.sqrt(vx.cast("double") * vy.cast("double")),
            6,
        ),
    )
    return (
        out.where(F.col("_n") == ROLL_CORR_W)
        .select("day", "n_click", "n_purchase", corr.alias("roll_corr"))
        .orderBy("day")
    )


Q_X_ROLLING_CORR_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_click,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_purchase
  FROM events
  WHERE ts IS NOT NULL AND event_type IN ('click', 'purchase')
  GROUP BY 1),
win AS (
  SELECT day, n_click, n_purchase,
         count(*) OVER fr AS _n,
         sum(n_click) OVER fr AS _sx,
         sum(n_purchase) OVER fr AS _sy,
         sum(n_click * n_purchase) OVER fr AS _sxy,
         sum(n_click * n_click) OVER fr AS _sxx,
         sum(n_purchase * n_purchase) OVER fr AS _syy
  FROM daily
  WINDOW fr AS (ORDER BY day
      ROWS BETWEEN {ROLL_CORR_W - 1} PRECEDING AND CURRENT ROW))
SELECT day, n_click, n_purchase,
       CASE WHEN _n * _sxx - _sx * _sx > 0 AND _n * _syy - _sy * _sy > 0
            THEN round(CAST(_n * _sxy - _sx * _sy AS DOUBLE)
                       / sqrt(CAST(_n * _sxx - _sx * _sx AS DOUBLE)
                              * CAST(_n * _syy - _sy * _sy AS DOUBLE)), 6)
       END AS roll_corr
FROM win WHERE _n = {ROLL_CORR_W}
ORDER BY day
"""


# ---------------------------------------------------------------------------
# Gini concentration coefficient per group (round 11)
# ---------------------------------------------------------------------------

def q_x_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority-class Gini coefficient of order revenue — the
    inequality/concentration summary behind every "is this segment
    whale-driven" question (Gini 0 = every order equal, →1 = one order
    carries the class). Uses the rank formulation over ascending
    integer cents, G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ):
    ties contribute the same Σ i·xᵢ under any permutation of equal
    values, so the o_orderkey tiebreaker only pins determinism, not
    the value.

    Scale shape: ranks come from scale.two_phase_rank with
    group_cols=[o_orderpriority] (NO single-partition window — the
    per-class order sets are unbounded at 100 TB); the three moments
    are one map-side-combinable aggregate. Σ i·xᵢ grows ~n²·max_cents,
    so the moment sums accumulate as DECIMAL(38,0) (Spark) / HUGEINT
    (DuckDB) — exact at any n that fits an int128, overflow-checked by
    both engines — and the final G lands on the integer-exact micro
    grid via decimal division (no float anywhere).
    """
    from bigdatagenomic_spark.operators.scale import two_phase_rank

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # NO fan_out here (round 15, quiet-host interleaved A/B: OFF
    # 1.386 s vs ON 1.493 s — the VERDICT r14 re-adjudication of the
    # kept wash): the projection is 3 narrow columns, and the rank
    # exchange reshuffles by range right after, so the round-robin
    # exchange is a pure extra pass
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        cents.alias("cents"),
    )
    ranked = two_phase_rank(
        o,
        [F.asc("cents"), F.asc("o_orderkey")],
        group_cols=["o_orderpriority"],
        rank_col="rk",
    )
    d38 = "decimal(38,0)"
    per_grp = ranked.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("cents").cast(d38)).alias("_sx"),
        F.sum((F.col("rk") * F.col("cents")).cast(d38)).alias("_six"),
    )
    gini = F.expr(
        "cast((cast(2 as decimal(38,0)) * _six"
        "      - (cast(n as decimal(38,0)) + 1) * _sx) * 1000000"
        "     div (cast(n as decimal(38,0)) * _sx) as long)"
    )
    return (
        per_grp.select(
            "o_orderpriority",
            "n",
            F.col("_sx").cast("long").alias("sum_cents"),
            gini.alias("gini_micro"),
        )
        .orderBy("o_orderpriority")
    )


Q_X_GINI_SQL = """
WITH o AS (
  SELECT o_orderpriority, o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), ranked AS (
  SELECT o_orderpriority, cents,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY cents, o_orderkey) AS rk
  FROM o
), per_grp AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(cents AS HUGEINT)) AS sx,
         sum(CAST(rk AS HUGEINT) * cents) AS six
  FROM ranked GROUP BY o_orderpriority
)
SELECT o_orderpriority, n, CAST(sx AS BIGINT) AS sum_cents,
       CAST((2 * six - (CAST(n AS HUGEINT) + 1) * sx) * 1000000
            // (CAST(n AS HUGEINT) * sx) AS BIGINT) AS gini_micro
FROM per_grp
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# association rules: confidence + lift over the basket pairs (round 11)
# ---------------------------------------------------------------------------

LIFT_MIN_PAIR_SUPPORT = 3  # pair must co-occur in >= this many baskets


def q_x_lift_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule readout over the co-purchase pairs: support,
    both conditional confidences, and lift — the Apriori rule-metrics
    pass that turns q_x_basket_pairs' raw counts into rankable rules
    (lift > 1e6 micro means the pair beats independence; confidence is
    the direction-specific hit rate a recommender acts on).

    Scale shape: the pair counts come from the same basket-bounded self
    equi-join as q_x_basket_pairs (per-basket k^2, k <= 7 in TPC-H —
    cap basket size first when k can run hot); item supports are one
    (partkey) aggregate joined back on the pair's two keys (equi-joins
    on well-distributed part keys, AQE picks broadcast when the item
    table is small); n_baskets is a 1-row broadcast. conf/lift land
    integer-exact on the micro grid via DECIMAL(38,0)/HUGEINT.
    """
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_b = items.select("l_orderkey").distinct().agg(
        F.count("*").cast("long").alias("_nb")
    )
    supp = items.groupBy("l_partkey").agg(F.count("*").cast("long").alias("cnt"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").cast("long").alias("cnt_ab"))
        .where(F.col("cnt_ab") >= LIFT_MIN_PAIR_SUPPORT)
    )
    sa = supp.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a"))
    sb = supp.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b"))
    return (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .crossJoin(F.broadcast(n_b))
        .select(
            "part_a",
            "part_b",
            "cnt_ab",
            "cnt_a",
            "cnt_b",
            F.expr("cnt_ab * 1000000 div cnt_a").cast("long").alias(
                "conf_a2b_micro"
            ),
            F.expr("cnt_ab * 1000000 div cnt_b").cast("long").alias(
                "conf_b2a_micro"
            ),
            F.expr(
                "CAST(CAST(cnt_ab AS DECIMAL(38,0)) * _nb * 1000000"
                "     div (CAST(cnt_a AS DECIMAL(38,0)) * cnt_b) AS BIGINT)"
            ).alias("lift_micro"),
        )
        .orderBy("part_a", "part_b")
    )


Q_X_LIFT_RULES_SQL = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n_b AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nb FROM items),
supp AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
         FROM items GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS cnt_ab
  FROM items a
  JOIN items b ON a.l_orderkey = b.l_orderkey
              AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {LIFT_MIN_PAIR_SUPPORT}
)
SELECT p.part_a, p.part_b, p.cnt_ab, sa.cnt AS cnt_a, sb.cnt AS cnt_b,
       CAST(p.cnt_ab * 1000000 // sa.cnt AS BIGINT) AS conf_a2b_micro,
       CAST(p.cnt_ab * 1000000 // sb.cnt AS BIGINT) AS conf_b2a_micro,
       CAST(CAST(p.cnt_ab AS HUGEINT) * t.nb * 1000000
            // (CAST(sa.cnt AS HUGEINT) * sb.cnt) AS BIGINT) AS lift_micro
FROM pairs p
JOIN supp sa ON sa.l_partkey = p.part_a
JOIN supp sb ON sb.l_partkey = p.part_b
CROSS JOIN n_b t
ORDER BY p.part_a, p.part_b
"""
