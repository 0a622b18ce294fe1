"""Skew- and shuffle-control utilities (the 100 TB toolbox; SURVEY.md
§7.2 item 4 — the reference has no partitioning strategy beyond
GraphLab vertex-cut, SURVEY.md §4.2).

AQE's skew-join splitting handles skewed JOINS automatically, but a
skewed GROUP BY key (one event_type carrying half the stream, one hot
document shingle) still funnels a whole key into one reducer. The
standard fix is salting: split each key into n_salt sub-keys, aggregate
partially, then combine the partials — two small shuffles instead of one
skewed one. ``salted_agg`` implements the pattern generically for
re-aggregatable functions (count/sum/min/max); the registry query
``q_x_salted_agg`` proves the salted plan is value-identical to the
plain GROUP BY by hash-matching the unsalted DuckDB oracle.

``write_bucketed`` is the co-located-join tool: pre-hash-partition both
fact tables on the join key at write time, and every subsequent join on
that key runs with ZERO exchanges (asserted in tests/test_scale.py).
At 100 TB this converts the nightly fact-fact join from the dominant
shuffle into a local merge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from bigdatagenomic_spark.sources.local import local_frame, pin_counted

# count/sum/min/max re-aggregate cleanly; avg must be derived as sum/count
_COMBINE = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}


def two_phase_rank(
    df: DataFrame,
    order_cols: list,
    group_cols: list[str] | None = None,
    rank_col: str = "rank",
) -> DataFrame:
    """Exact row-number rank, ``row_number() OVER (PARTITION BY
    group_cols ORDER BY order_cols)`` as a long, that scales past one
    window task.

    Spark executes an unpartitioned ``row_number()`` window in ONE
    partition — an OOM/straggler the moment the ranked set is unbounded
    (a 100 TB corpus's vocabulary, its per-source doc sets, ...). The
    scalable equivalent is two-phase: (1) ``repartitionByRange`` on
    (group_cols + order_cols), so each partition holds a contiguous
    slice of the target order, with ``localCheckpoint`` pinning the
    partition assignment (the offsets job and the final job must see
    identical pids); (2) a per-(partition, group) ``row_number`` over
    bounded slices plus broadcast-joined offsets, where the offset
    table is one bounded driver fetch (≤ partitions × |groups| rows —
    same class as the 1-row stats reads elsewhere in this module).
    Because the range boundaries respect the total order, offset +
    local rank reproduces the global (or per-group) rank EXACTLY,
    wherever the boundaries land; order_cols must therefore be a total
    order (add a unique tiebreaker column).

    ``group_cols=None``/``[]`` ranks globally; otherwise ranks restart
    per group (the scalable form when single groups are too big for
    one task). An input that fits the driver budget is ranked by the
    plain window over one partition instead (see :func:`_two_phase`).
    """
    return _two_phase(
        df, F.row_number(), F.count("*"), "sum", order_cols, group_cols, rank_col
    )


def two_phase_cumsum(
    df: DataFrame,
    val_col: str,
    order_cols: list,
    group_cols: list[str] | None = None,
    out_col: str = "cumsum",
) -> DataFrame:
    """Exact (per-group) INCLUSIVE running sum of an integral column as
    a long, ``sum(val_col) OVER (PARTITION BY group_cols ORDER BY
    order_cols ROWS UNBOUNDED PRECEDING)``, with the machinery of
    :func:`two_phase_rank`: per-(partition, group) partial SUMS as the
    offset table, a local window cumsum plus the broadcast-joined
    exclusive prefix offset. Nulls count as the window counts them: a
    row sees null until its group's first non-null value.
    ``order_cols`` must be a total order. Restricted by intent to
    integral values (token counts, byte sizes): long addition is
    associative, so the result is exactly the single-window cumsum
    wherever the range boundaries land — float inputs would make the
    answer boundary-dependent in the last ulp.
    """
    return _two_phase(
        df, F.sum(val_col), F.sum(val_col).cast("long"), "sum", order_cols,
        group_cols, out_col,
    )


def two_phase_prefix_max(
    df: DataFrame,
    val_col: str,
    order_cols: list,
    out_col: str = "prefix_max",
    inclusive: bool = False,
) -> DataFrame:
    """Exact running max of ``val_col`` in ``order_cols`` order, the
    window ``max(val_col) OVER (ORDER BY order_cols ROWS BETWEEN
    UNBOUNDED PRECEDING AND CURRENT ROW)``, with the machinery of
    :func:`two_phase_cumsum`. MAX is associative AND idempotent, so it
    composes across the range boundaries for any comparable type, and
    the output keeps ``val_col``'s type. ``inclusive=False`` gives the
    EXCLUSIVE prefix (strictly-preceding rows, frame end ``1
    PRECEDING``; NULL for the global first row) — the record-detection
    / skyline primitive. ``order_cols`` must be a total order.
    """
    end = W.currentRow if inclusive else -1
    return _two_phase(
        df, F.max(val_col), F.max(val_col), "max", order_cols, None, out_col, end
    )


# per combine: how the partials of a group's earlier slices add up on
# the driver, and how a row adds that offset onto its slice-local
# running value (a null offset or local value adds nothing)
_COMBINE_SLICES = {
    "sum": (
        lambda a, b: a + b,
        lambda off, local: F.coalesce(off + local, local, off).cast("long"),
    ),
    "max": (max, F.greatest),
}


def _two_phase(
    df: DataFrame,
    fn: Column,
    partial: Column,
    combine: str,
    order_cols: list,
    group_cols: list[str] | None,
    out_col: str,
    end: int = W.currentRow,
) -> DataFrame:
    """The running window function ``fn`` over (group_cols, order_cols),
    frame ``unboundedPreceding .. end``, as column ``out_col``;
    ``partial`` aggregates one (partition, group) slice into what the
    later slices of its group add on, by ``combine`` (``"sum"``, as a
    long, or ``"max"``).

    ``df`` is pinned first by :func:`~bigdatagenomic_spark.sources.
    local.pin_counted`: repartitionByRange SAMPLES its input to pick
    range bounds, so an un-materialized df would compute twice (sample
    pass + shuffle pass; SCALING.md Part 14 addendum), and the pinning
    job also counts the rows. An input that fits the driver budget —
    the "fits in one node's memory" rule that picks extract_path's
    driver walk and connected_components' union-find — comes back as
    one partition under the plain window: no range sample, offsets or
    broadcast, and the window (like a caller's later ``orderBy``) sorts
    inside that partition with no exchange (SCALING.md Part 17 measured
    it faster than the two-phase path from 100k to 5M rows on 4 cores).
    A larger input runs the two-phase path over
    ``spark.sql.shuffle.partitions`` range partitions; the result does
    not depend on that count.
    """
    group_cols = list(group_cols or [])
    spark = df.sparkSession
    add_partial, add_offset = _COMBINE_SLICES[combine]

    def running(spec):
        return fn.over(spec.orderBy(*order_cols).rowsBetween(W.unboundedPreceding, end))

    df, fits = pin_counted(df)
    if fits:
        # one slice: no earlier slice, so every row's offset is null
        return df.coalesce(1).withColumn(
            out_col, add_offset(F.lit(None), running(W.partitionBy(*group_cols)))
        )
    keys = ["_pid", *group_cols]
    parts = (
        df.repartitionByRange(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            *[F.col(c) for c in group_cols],
            *order_cols,
        )
        .withColumn("_pid", F.spark_partition_id())
        # lazy: the collect below is always the first action, so it
        # materializes the checkpoint in the SAME job — one fewer
        # blocking job per call than eager (round 14); the pid pinning
        # is identical (pinned at first materialization)
        .localCheckpoint(eager=False)
    )
    slices = parts.groupBy(*keys).agg(partial.alias("_p"))
    # a slice's offset is its group's earlier partials combined, null
    # until the first non-null one (a sum or max over nulls only is null)
    acc: dict[tuple, object] = {}
    off_rows = []
    for r in sorted(slices.collect(), key=lambda r: r["_pid"]):
        g = tuple(r[c] for c in group_cols)
        off_rows.append((r["_pid"], *g, acc.get(g)))
        if r["_p"] is not None:
            acc[g] = add_partial(acc[g], r["_p"]) if g in acc else r["_p"]
    # the offset table's keys are renamed so the join can match a null
    # group null-safely (the window's PARTITION BY groups nulls together)
    off_keys = [f"_k{i}" for i in range(len(keys))]
    schema = StructType(
        [StructField(o, parts.schema[k].dataType) for o, k in zip(off_keys, keys)]
        + [StructField("_off", slices.schema["_p"].dataType)]
    )
    off_df = local_frame(spark, off_rows, schema)
    on = [F.col(k).eqNullSafe(F.col(o)) for k, o in zip(keys, off_keys)]
    return (
        parts.join(F.broadcast(off_df), on, "left")
        .withColumn(out_col, running(W.partitionBy(*keys)))
        .withColumn(out_col, add_offset(F.col("_off"), F.col(out_col)))
        .drop("_pid", *off_keys, "_off")
    )


def suggest_salt_fanout(
    df: DataFrame,
    key: str,
    shuffle_partitions: int | None = None,
    max_fanout: int = 256,
) -> int:
    """Derive the salt fan-out from the key's observed skew.

    If the hottest key holds share ``p`` of the rows and the shuffle has
    ``P`` partitions, a balanced reducer should hold ``1/P`` — so the
    hot key needs ``ceil(p·P)`` sub-keys. A uniform key distribution
    yields fan-out 1 (salting disabled, no second shuffle paid);
    a single dominant key approaches ``P``.

    Costs one map-side-combined aggregate over the key — the same stat
    :func:`key_skew_report` surfaces for humans. At 100 TB run it on the
    same sample you profile with, or persist the report and pass its
    numbers through ``shuffle_partitions``-aware planning offline; the
    decision only needs the max-share ratio, not exact counts.
    """
    import math

    spark = df.sparkSession
    n_part = shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    row = (
        df.groupBy(key)
        .agg(F.count("*").alias("n"))
        .agg(F.max("n").alias("mx"), F.sum("n").alias("tot"))
        .collect()[0]
    )
    if not row.tot:
        return 1
    share = row.mx / row.tot
    return max(1, min(max_fanout, n_part, math.ceil(share * n_part)))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    salt_on: str,
    n_salt: int | None = None,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output column -> (fn, input column) with fn in
    count/sum/min/max. ``salt_on`` is any high-cardinality column used to
    derive a deterministic salt (rand() would break retry idempotency —
    a failed task re-running with different salts double-counts).
    ``n_salt=None`` (the DEFAULT) sizes the fan-out from the observed
    key skew via :func:`suggest_salt_fanout` — one map-side-combined
    probe aggregate, so a uniform key pays fan-out 1 (no second
    shuffle) and a hot key gets exactly the sub-keys its share needs.
    Pass a literal to skip the probe job (e.g. in explain-only paths).
    """
    if n_salt is None:
        n_salt = suggest_salt_fanout(df, keys[0])
    salt = F.pmod(F.abs(F.hash(F.col(salt_on))), F.lit(n_salt)).alias("_salt")
    partial_exprs = []
    combine_exprs = []
    for out, (fn, col) in aggs.items():
        if fn not in _COMBINE:
            raise ValueError(f"{fn} is not re-aggregatable; use sum/count-derived forms")
        partial = F.count(col) if fn == "count" else getattr(F, fn)(col)
        partial_exprs.append(partial.alias(f"_p_{out}"))
        combine_exprs.append(_COMBINE[fn](f"_p_{out}").alias(out))
    return (
        df.groupBy(*keys, salt)
        .agg(*partial_exprs)
        .groupBy(*keys)
        .agg(*combine_exprs)
    )


def q_x_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted count+sum over the 5-value (maximally skewed) event_type key;
    hash-matches the plain GROUP BY oracle."""
    from bigdatagenomic_spark.operators.relational import round2_portable
    from bigdatagenomic_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        keys=["event_type"],
        aggs={"n_events": ("count", "event_id"), "sum_value": ("sum", "value")},
        salt_on="event_id",
        # pinned fan-out: registry sweeps construct every query
        # explain-only; the auto (n_salt=None) probe would run a real
        # job per construction. Auto-sizing is covered in test_scale.
        n_salt=16,
    )
    return out.select(
        "event_type",
        "n_events",
        round2_portable(F.col("sum_value")).alias("sum_value"),
    ).orderBy("event_type")


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_on: str,
    n_salt: int | None = None,
) -> DataFrame:
    """Skew-safe equi-join: salt the fact side, replicate the dim side.

    AQE skew-split handles sort-merge skew post-hoc, but when one join
    key carries a double-digit percent of a 100 TB fact table a single
    Spark partition still has to sort that key's rows. Salting splits
    the hot key across n_salt reducers up front: the fact side gets a
    deterministic salt from a high-cardinality column (never rand() —
    task retries would re-salt differently), the dim side is exploded
    n_salt times so every (key, salt) bucket finds its match. Dim-side
    blow-up is n_salt×rows — fine for dimension tables, which is the
    only side this should replicate.

    Returns fact ⋈ dim with the salt column dropped; value-identical to
    ``fact.join(dim, key)`` (hash-checked by q_x_salted_join).
    ``n_salt=None`` (the DEFAULT) sizes the fan-out from the fact
    side's observed key skew via :func:`suggest_salt_fanout` (dim-side
    replication cost then tracks actual skew instead of a guess); pass
    a literal to skip the probe job.
    """
    if n_salt is None:
        n_salt = suggest_salt_fanout(fact, key)
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.abs(F.hash(F.col(salt_on))), F.lit(n_salt))
    )
    exploded_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return salted_fact.join(exploded_dim, on=[key, "_salt"]).drop("_salt")


def q_x_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted orders⋈customer (custkey) aggregated by mktsegment;
    hash-matches the plain-join oracle."""
    from bigdatagenomic_spark.operators.relational import round2_portable
    from bigdatagenomic_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # pinned fan-out (see q_x_salted_agg): keep registry construction
    # explain-only; auto-sizing is covered in test_scale.
    joined = salted_join(o, c, key="c_custkey", salt_on="o_orderkey", n_salt=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            round2_portable(F.sum("o_totalprice")).alias("sum_price"),
        )
        .orderBy("c_mktsegment")
    )


N_BUDGET_PER_SOURCE = 40


def q_x_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-stratum budget sampling: the first N docs per source in
    deterministic hash order — the op behind "exactly 40M docs from each
    source in the mix" (rate-based sampling, q_corpus_mix, can't hit an
    exact budget). Semantically
    ``row_number() OVER (PARTITION BY source ORDER BY hash) <= N``, but
    executed with :func:`two_phase_rank`: at corpus scale a single
    source can be half the data, so the per-source window partition is
    itself the straggler — the grouped two-phase rank bounds every
    sort to a range slice. Hash order (not doc_id order) makes the kept
    set a uniform, rerun-stable sample, and doc_id tie-breaks to a
    total order.
    """
    from bigdatagenomic_spark.functions import md5_long
    from bigdatagenomic_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    keyed = d.withColumn(
        "h",
        md5_long(
            F.concat_ws("\x01", F.col("source"), F.col("doc_id").cast("string"))
        ),
    )
    ranked = two_phase_rank(
        keyed, [F.asc("h"), F.asc("doc_id")], group_cols=["source"], rank_col="rk"
    )
    return (
        ranked.where(F.col("rk") <= N_BUDGET_PER_SOURCE)
        .select("doc_id", "source", F.col("rk").cast("int").alias("rk"))
        .orderBy("source", "doc_id")
    )


def write_bucketed(
    df: DataFrame,
    path: str,
    table: str,
    bucket_col: str | list[str],
    n_buckets: int = 8,
) -> DataFrame:
    """Persist df hash-bucketed (and sorted) by the join key(s).

    Joins between tables bucketed identically on the join key need no
    exchange (and with sortBy, no sort): the classic co-location
    investment — pay one shuffle at write time, join shuffle-free
    forever after. Multi-column bucketing must list the EXACT join-key
    set (Spark only plans a bucketed read when the join keys cover the
    bucket columns).
    """
    cols = [bucket_col] if isinstance(bucket_col, str) else list(bucket_col)
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, *cols)
        .sortBy(*cols)
        .format("parquet")
        .saveAsTable(table)
    )
    return df.sparkSession.table(table)


def key_skew_report(df: DataFrame, key: str, top_n: int = 20) -> DataFrame:
    """Per-key frequency heavy hitters + each key's share of the table —
    the first thing to run when a join/agg stage straggles at scale.
    One map-side-combined groupBy + a broadcast 1-row total + top-k
    (TakeOrderedAndProject, no global sort)."""
    total = df.groupBy().agg(F.count("*").alias("_total"))
    return (
        df.groupBy(key)
        .agg(F.count("*").alias("n_rows"))
        .crossJoin(F.broadcast(total))
        .select(
            key,
            "n_rows",
            (F.floor(F.col("n_rows") / F.col("_total") * 1_000_000 + F.lit(0.5))
             / 10000).alias("pct"),
        )
        .orderBy(F.desc("n_rows"), F.asc(key))
        .limit(top_n)
    )


def q_x_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatagenomic_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return key_skew_report(li, "l_suppkey", top_n=20)


def write_sorted_by_range(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 8,
) -> None:
    """Range-partition + sort-within-partitions parquet write: the
    data-layout investment for scan locality. Parquet keeps per-row-group
    min/max stats; writing each file as a sorted, disjoint key range
    makes later range predicates skip whole files/row-groups instead of
    scanning 100 TB to filter 1%. (Same motivation as Delta/Iceberg
    Z-ordering; single-column ordering needs nothing beyond vanilla
    Spark.)"""
    (
        df.repartitionByRange(n_files, *[F.col(c) for c in cols])
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


# --------------------------------------------------------------------------
# binned interval join (range-join-as-equi-join)
# --------------------------------------------------------------------------
FOLLOW_SECONDS = 300  # 5-minute follow window == the bin width


def interval_follow_counts(
    events: DataFrame, window_s: int = FOLLOW_SECONDS
) -> DataFrame:
    """For every 'error' event: count same-user events in (ts, ts+window].

    The naive plan is a non-equi range join — Spark falls back to
    BroadcastNestedLoopJoin / cartesian, O(n·m) and a 100 TB
    non-starter. The scale formulation picks the bin width equal to the
    window so any candidate lands in the probe's bin b or b+1: explode
    each probe (error) row to [b, b+1], **equi-join** on
    (user_id, bin) — an ordinary shuffled hash join Catalyst and AQE
    can optimize — then apply the exact timestamp predicate. Each
    candidate appears in exactly one bin, so no post-join dedup is
    needed. Zero-follower errors are kept via a final left join.
    """
    base = events.select("event_id", "user_id", "ts", "event_type")
    bin_col = F.floor(F.unix_timestamp("ts") / F.lit(window_s)).cast("long")
    probes = (
        base.where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.explode(F.array(bin_col, bin_col + 1)).alias("bin"),
        )
    )
    cands = base.select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        bin_col.alias("bin"),
    )
    hits = (
        probes.join(
            cands,
            (probes["p_user"] == cands["c_user"])
            & (probes["bin"] == cands["bin"]),
        )
        .where(
            (F.col("c_ts") > F.col("p_ts"))
            & (
                F.col("c_ts")
                <= F.col("p_ts") + F.expr(f"INTERVAL {window_s} SECOND")
            )
        )
        .groupBy("p_id")
        .agg(F.count("*").alias("n_follow"))
    )
    errors = base.where(F.col("event_type") == "error").select(
        F.col("event_id")
    )
    return errors.join(
        hits, errors["event_id"] == hits["p_id"], "left"
    ).select(
        "event_id", F.coalesce("n_follow", F.lit(0)).cast("long").alias("n_follow")
    )


def q_x_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdatagenomic_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return interval_follow_counts(ev).orderBy("event_id")


Q_X_INTERVAL_JOIN_SQL = f"""
SELECT e.event_id, CAST(count(c.event_id) AS BIGINT) AS n_follow
FROM events e
LEFT JOIN events c
  ON c.user_id = e.user_id
 AND c.ts > e.ts
 AND c.ts <= e.ts + INTERVAL {FOLLOW_SECONDS} SECOND
WHERE e.event_type = 'error'
GROUP BY e.event_id
ORDER BY e.event_id
"""


# --------------------------------------------------------------------------
# Z-order (Morton) multi-column layout
# --------------------------------------------------------------------------
Z_BITS = 16


def zorder_value(c1, c2, bits: int = Z_BITS):
    """Morton-interleave two non-negative bucketed ints into one z-value.

    Pure integer shift/mask expressions (codegen-friendly, engine-
    portable). Sorting/range-partitioning by the z-value clusters BOTH
    dimensions at once, so parquet row-group min/max stats prune scans
    filtered on either column — the Delta/Iceberg Z-ORDER primitive on
    vanilla Spark (single-column clustering is write_sorted_by_range).
    """
    z = F.lit(0).cast("long")
    for i in range(bits):
        b1 = F.shiftright(c1.cast("long"), i).bitwiseAND(F.lit(1))
        b2 = F.shiftright(c2.cast("long"), i).bitwiseAND(F.lit(1))
        z = z + F.shiftleft(b1, 2 * i) + F.shiftleft(b2, 2 * i + 1)
    return z


def write_zordered(
    df: DataFrame, path: str, c1: str, c2: str, n_files: int = 8
) -> None:
    """Persist df range-partitioned + sorted by the z-value of (c1, c2):
    the two-dimensional layout investment for scan locality.

    Both dimensions are min/max-normalized to the full bit width before
    interleaving — with raw values, the wider column owns every leading
    z-bit and the curve degenerates to single-column clustering (the
    same reason Delta/Iceberg Z-ORDER rank-normalizes inputs). The
    min/max pass is one tiny aggregate over the two columns.
    """
    lo1, hi1, lo2, hi2 = df.select(
        F.min(c1), F.max(c1), F.min(c2), F.max(c2)
    ).collect()[0]
    span = 2**Z_BITS - 1

    def scaled(col, lo, hi):
        if hi == lo:
            return F.lit(0).cast("long")
        return F.floor((col - F.lit(lo)) / F.lit(hi - lo) * span).cast("long")

    zed = df.withColumn(
        "_z",
        zorder_value(
            scaled(F.col(c1), lo1, hi1), scaled(F.col(c2), lo2, hi2)
        ),
    )
    (
        zed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def q_x_zorder_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-values for orders over (custkey, bucketed totalprice) — the
    deterministic index computation behind write_zordered."""
    from bigdatagenomic_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    price_bucket = F.floor(F.col("o_totalprice") / 1000).cast("long")
    return o.select(
        "o_orderkey",
        zorder_value(F.col("o_custkey"), price_bucket).alias("zval"),
    ).orderBy("o_orderkey")


Q_X_ZORDER_VALUE_SQL = (
    """SELECT o_orderkey, CAST((((o_custkey >> 0) & 1) << 0) + ((( CAST(floor(o_totalprice / 1000) AS BIGINT) >> 0) & 1) << 1) + (((o_custkey >> 1) & 1) << 2) + ((( CAST(floor(o_totalprice / 1000) AS BIGINT) >> 1) & 1) << 3) + (((o_custkey >> 2) & 1) << 4) + ((( CAST(floor(o_totalprice / 1000) AS BIGINT) >> 2) & 1) << 5) + (((o_custkey >> 3) & 1) << 6) + ((( CAST(floor(o_totalprice / 1000) AS BIGINT) >> 3) & 1) << 7) + (((o_custkey >> 4) & 1) << 8) + ((( CAST(floor(o_totalprice / 1000) AS BIGINT) >> 4) & 1) << 9) + (((o_custkey >> 5) & 1) << 10) + ((( CAST(floor(o_totalprice / 1000) AS BIGINT) >> 5) & 1) << 11) + (((o_custkey >> 6) & 1) << 12) + ((( CAST(floor(o_totalprice / 1000) AS BIGINT) >> 6) & 1) << 13) + (((o_custkey >> 7) & 1) << 14) + ((( CAST(floor(o_totalprice / 1000) AS BIGINT) >> 7) & 1) << 15) + (((o_custkey >> 8) & 1) << 16) + ((( CAST(floor(o_totalprice / 1000) AS BIGINT) >> 8) & 1) << 17) + (((o_custkey >> 9) & 1) << 18) + ((( CAST(floor(o_totalprice / 1000) AS BIGINT) >> 9) & 1) << 19) + (((o_custkey >> 10) & 1) << 20) + ((( CAST(floor(o_totalprice / 1000) AS BIGINT) >> 10) & 1) << 21) + (((o_custkey >> 11) & 1) << 22) + ((( CAST(floor(o_totalprice / 1000) AS BIGINT) >> 11) & 1) << 23) + (((o_custkey >> 12) & 1) << 24) + ((( CAST(floor(o_totalprice / 1000) AS BIGINT) >> 12) & 1) << 25) + (((o_custkey >> 13) & 1) << 26) + ((( CAST(floor(o_totalprice / 1000) AS BIGINT) >> 13) & 1) << 27) + (((o_custkey >> 14) & 1) << 28) + ((( CAST(floor(o_totalprice / 1000) AS BIGINT) >> 14) & 1) << 29) + (((o_custkey >> 15) & 1) << 30) + ((( CAST(floor(o_totalprice / 1000) AS BIGINT) >> 15) & 1) << 31) AS BIGINT) AS zval FROM orders ORDER BY o_orderkey"""
)


# ---------------------------------------------------------------------------
# Bloom semi-join reduction (runtime-filter pattern, made explicit)
# ---------------------------------------------------------------------------

BJ_M = 8192   # bloom bits
BJ_K = 2      # salted hashes per key
BJ_NATION = 3  # selective dim predicate


def _bj_positions(key) -> list:
    # ONE xxhash64 per row, BJ_K bit-sliced positions (the
    # Kirsch-Mitzenmacher double-hashing device): the positions are
    # internal plan machinery — the exact join downstream erases any
    # false positive, so no cross-engine hash contract applies and the
    # cheapest JVM hash wins. (The first cut salted md5 per position:
    # measured ~4 s of pure probe CPU over the x100 fact — the wire
    # saving is free, the hash must be too.)
    h = F.xxhash64(key)
    return [
        F.shiftright(h, 13 * i).bitwiseAND(F.lit(BJ_M - 1)).alias(f"_p{i}")
        for i in range(BJ_K)
    ]


def q_x_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction: per-supplier volume for ONE
    nation's suppliers, with the fact side pre-filtered through a
    bounded Bloom sketch of the reduced dim keys BEFORE any join or
    shuffle — the explicit form of Spark's runtime bloom filter
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) and of
    warehouse sideways information passing, as an operator the engine
    controls and the oracle can check.

    Exactness: the Bloom pass only REMOVES rows that cannot join
    (no false negatives); false positives are eliminated by the exact
    equi-join that follows, so the result is hash-identical to the
    plain join — the sketch is pure plan shape. The DuckDB oracle is
    the plain join.

    Scale shape (round 11): the sketch is the distinct set-bit list —
    ≤ min(BJ_K·|dim_keys|, BJ_M) longs no matter how large the dim —
    fetched in ONE bounded driver read (the ≤K-row codebook pattern)
    and compiled into the fact scan as an ``InSet`` literal: membership
    is BJ_K O(1) hash-set probes inside the scan's WholeStageCodegen,
    zero joins and zero broadcast exchanges before the exact join.
    This is Spark's own runtime-bloom-filter shape
    (``might_contain(scalar-subquery sketch)``) made explicit. The
    round-10 cut chained BJ_K broadcast LEFT SEMI joins on the bit
    positions — correct and fact-shuffle-free, but each probe was its
    own broadcast exchange + build, and the sf0.1 bench showed the
    sketch machinery costing ~3x the plain join it avoids (VERDICT r10
    "What's wrong" #2); a 1-row bitmap attach measured no better (the
    BroadcastNestedLoopJoin probe runs interpreted). Measured at
    sf0.1: 0.65 s vs 0.35 s plain broadcast join — the residual is the
    one tiny sketch job + the per-row hash, the price of the sketch
    machinery itself. At 100 TB the exact join is NOT broadcastable
    and the sketch's ~25x fact reduction removes the dominant shuffle.
    """
    from bigdatagenomic_spark.sources.tables import load_table

    sup = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") == BJ_NATION)
        .select("s_suppkey")
    )
    pos = None
    for i in range(BJ_K):
        p = sup.select(_bj_positions(F.col("s_suppkey"))[i].alias("pos"))
        pos = p if pos is None else pos.unionByName(p)
    # bounded driver fetch: ≤ min(BJ_K * |dim_keys|, BJ_M) = ≤8192 longs
    set_bits = sorted({r["pos"] for r in pos.distinct().collect()})
    li = load_table(spark, sf_dir, "lineitem")
    probe = li.select(
        "l_suppkey", "l_quantity", *_bj_positions(F.col("l_suppkey"))
    )
    if set_bits:
        member = None
        for i in range(BJ_K):
            hit = F.col(f"_p{i}").isin(set_bits)
            member = hit if member is None else (member & hit)
    else:
        member = F.lit(False)  # empty dim: nothing can join
    probe = probe.where(member)
    return (
        probe.join(F.broadcast(sup), probe["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_suppkey")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
        )
        .orderBy("s_suppkey")
    )


Q_X_BLOOM_JOIN_SQL = f"""
SELECT s.s_suppkey, CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(l.l_quantity) AS BIGINT) AS sum_qty
FROM supplier s JOIN lineitem l ON l.l_suppkey = s.s_suppkey
WHERE s.s_nationkey = {BJ_NATION}
GROUP BY s.s_suppkey ORDER BY s.s_suppkey
"""


# ---------------------------------------------------------------------------
# Join-size / skew estimation WITHOUT running the join
# ---------------------------------------------------------------------------

def q_x_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact output cardinality + skew profile of the events-x-events
    self-join on user_id, computed from per-key counts — O(distinct
    keys) work instead of O(join output). The capacity-planning
    primitive behind every "will this join fit" decision at 100 TB:
    ``|A ⋈ B| = sum_k n_A(k) * n_B(k)`` needs only the two count
    tables, and the argmax term is the skew culprit AQE's skew-join
    split (or a salting pass) will have to handle. One
    map-side-combined count aggregate + two 1-row reductions; the join
    itself never runs.
    """
    from bigdatagenomic_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    per_key = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    contrib = per_key.select(
        "user_id", (F.col("n") * F.col("n")).cast("long").alias("pairs")
    )
    totals = contrib.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("pairs").cast("long").alias("est_rows"),
    )
    top = (
        contrib.select(
            F.max(F.struct(F.col("pairs"), F.col("user_id"))).alias("_t")
        )
        .select(
            F.col("_t.user_id").alias("top_user_id"),
            F.col("_t.pairs").alias("top_pairs"),
        )
    )
    return totals.crossJoin(F.broadcast(top))


Q_X_JOIN_SIZE_SQL = """
WITH per_key AS (
  SELECT user_id, count(*) AS n FROM events
  WHERE user_id IS NOT NULL GROUP BY user_id),
contrib AS (
  SELECT user_id, CAST(n * n AS BIGINT) AS pairs FROM per_key),
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(pairs) AS BIGINT) AS est_rows FROM contrib),
top AS (
  SELECT user_id AS top_user_id, pairs AS top_pairs
  FROM contrib ORDER BY pairs DESC, user_id DESC LIMIT 1)
SELECT t.n_keys, t.est_rows, p.top_user_id, p.top_pairs
FROM totals t CROSS JOIN top p
"""


# ---------------------------------------------------------------------------
# Exact distributed median (two-phase rank, no single-partition sort)
# ---------------------------------------------------------------------------

def q_x_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-segment median account balance — the scale-honest
    alternative to percentile_approx when the number matters (SLAs,
    finance): a naive exact median needs a full per-group sort in one
    task; this plan ranks through :func:`two_phase_rank`
    (range-repartitioned, pinned pids, broadcast offsets), joins the
    per-group counts, and keeps only the middle rank(s), so no task
    ever holds more than corpus/parallelism rows.

    Integer-exact: emits ``med2_cents = lo + hi`` in CENTS — twice the
    median, the standard dodge around the odd/even averaging float
    (odd n: the single middle row counts twice). Ordering ties break
    by c_custkey, which cannot change which VALUES occupy the middle
    ranks.
    """
    from bigdatagenomic_spark.sources.tables import load_table

    # NO fan_out here (round 15): the round-14 "wash" A/B never disabled
    # this site (function-local import, missed by the module-attribute
    # monkeypatch); the honest source-level A/B measured OFF 1.047 s vs
    # ON 1.113 s — the round-robin exchange + retry-determinism sort of
    # the projection costs more than the 1-task scan it parallelizes
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("grp"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        "c_custkey",
    )
    ranked = two_phase_rank(
        c,
        [F.col("cents").asc(), F.col("c_custkey").asc()],
        group_cols=["grp"],
        rank_col="r",
    )
    counts = c.groupBy("grp").agg(F.count("*").cast("long").alias("n"))
    mid = counts.select(
        "grp",
        "n",
        ((F.col("n") + 1) / 2).cast("long").alias("m1"),
        ((F.col("n") + 2) / 2).cast("long").alias("m2"),
    )
    sel = ranked.join(F.broadcast(mid), "grp").where(
        (F.col("r") == F.col("m1")) | (F.col("r") == F.col("m2"))
    )
    w = F.when(F.col("m1") == F.col("m2"), F.lit(2)).otherwise(F.lit(1))
    return (
        sel.groupBy("grp", "n")
        .agg(F.sum(F.col("cents") * w).cast("long").alias("med2_cents"))
        .orderBy("grp")
    )


Q_X_EXACT_MEDIAN_SQL = """
WITH c AS (
  SELECT c_mktsegment AS grp,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents, c_custkey
  FROM customer),
ranked AS (
  SELECT grp, cents,
         row_number() OVER (PARTITION BY grp
                            ORDER BY cents, c_custkey) AS r,
         CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM c)
SELECT grp, n,
       CAST(sum(cents * CASE WHEN (n + 1) // 2 = (n + 2) // 2
                             THEN 2 ELSE 1 END) AS BIGINT) AS med2_cents
FROM ranked
WHERE r = (n + 1) // 2 OR r = (n + 2) // 2
GROUP BY grp, n ORDER BY grp
"""


def q_x_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 5%-two-sided trimmed mean of extended price per return
    flag — the robust location estimate that ignores both tails
    entirely (unlike winsorizing, nothing is clamped; unlike the
    median, the middle 90% all votes). Rank-based, so NO percentile
    interpolation convention can diverge between engines: drop the
    floor(n/20) lowest- and highest-ranked rows per group, average the
    rest on the integer micro grid (cents * 1e6 div kept).

    Scale shape — GRID algebra, not per-row ranks (the round-11 sweep
    measured the two_phase_rank formulation at 20.6 s on a 6M-row
    replica; this one works on the distinct-cents grid): the kept
    multiset is value-determined, so per (group, cents) the kept
    MULTIPLICITY is the overlap of that value's rank interval
    (cum-cnt, cum] with the kept band (t, n-t] — max(0, min(cum, n-t)
    - max(cum-cnt, t)). One (grp, cents) aggregate (|grid| rows, far
    fewer than fact rows), one two_phase_cumsum over the grid, a
    bounded per-group total broadcast, one moment aggregate. No fact
    row is ever ranked or checkpointed. Ties need no tiebreaker at
    all: the overlap form IS the tie-proof kept multiset.
    """
    from bigdatagenomic_spark.sources.tables import load_table

    # NO fan_out here (round 15): the driver's quiet-host bench measured
    # the round-14 fan_out at 6.277 s vs 2.861 s without (BENCH_r14 vs
    # r13, control 0.80), and the honest source-level A/B agrees (OFF
    # 2.859 vs ON 3.264). The grid barely collapses (594k cells from
    # 600k rows), so the round-robin exchange shipped ~2x the bytes the
    # query's own shuffle moves. The round-14 "wash" A/B never disabled
    # this site (function-local import, missed by the monkeypatch).
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    # pin the grid: it feeds the cumsum AND the per-group total below,
    # so unpinned the fact scan + aggregate would run once per consumer
    # (the shuffle_audit measured 3 fact scans here pre-fix); the grid
    # is |distinct cents| narrow rows. pin_counted, so the cumsum's own
    # pin reuses this one instead of checkpointing the grid again.
    dv, _ = pin_counted(
        li.groupBy("grp", "cents").agg(F.count("*").cast("long").alias("_cnt"))
    )
    cum = two_phase_cumsum(
        dv, "_cnt", [F.col("cents").asc()], group_cols=["grp"], out_col="_cum"
    )
    # n per group = SUM of the grid counts, rooted at the EAGER dv
    # checkpoint (round 15): the round-13 shape derived n as
    # max(_cum) over `cum`, whose plan contains the per-partition
    # window cumsum — so the broadcast build replayed the whole window
    # pass a second time (profiled: ~0.5 s of the final job at sf0.1).
    # dv is pinned (the fact scan cannot replay — the round-13 hazard
    # this comment used to guard), and sum(_cnt) == max(_cum) exactly
    # (long addition over the same counts).
    tot = dv.groupBy("grp").agg(F.sum("_cnt").cast("long").alias("n"))
    base = cum.join(F.broadcast(tot), "grp").withColumn(
        "_kept",
        F.expr(
            "CAST(greatest(0, least(_cum, n - n div 20)"
            "              - greatest(_cum - _cnt, n div 20)) AS BIGINT)"
        ),
    )
    return (
        base.groupBy("grp", "n")
        .agg(
            F.sum("_kept").cast("long").alias("n_kept"),
            F.expr(
                "CAST(sum(CAST(cents AS DECIMAL(38,0)) * _kept) * 1000000"
                "     div CAST(sum(_kept) AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("trimmed_mean_micro"),
        )
        .orderBy("grp")
    )


Q_X_TRIMMED_MEAN_SQL = """
WITH li AS (
  SELECT l_returnflag AS grp,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         l_orderkey, l_linenumber
  FROM lineitem),
ranked AS (
  SELECT grp, cents,
         row_number() OVER (PARTITION BY grp
                            ORDER BY cents, l_orderkey, l_linenumber) AS r,
         CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM li)
SELECT grp, n, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(CAST(cents AS HUGEINT)) * 1000000
            // CAST(count(*) AS HUGEINT) AS BIGINT) AS trimmed_mean_micro
FROM ranked
WHERE r > n // 20 AND r <= n - n // 20
GROUP BY grp, n ORDER BY grp
"""


def q_x_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 5%-two-sided WINSORIZED mean per return flag — the
    companion to q_x_trimmed_mean that CLAMPS the tails to the cut
    values instead of dropping them (keeps n constant, standard for
    robust KPIs whose denominator is contractual). Rank-based bounds
    (the value at rank t+1 and rank n-t, t = n div 20), so no
    percentile-interpolation convention exists to diverge between
    engines.

    Plan — GRID algebra like q_x_trimmed_mean (no per-row rank, no
    fact checkpoint): on the (group, distinct-cents) grid with running
    counts, lo is the value whose rank interval covers t+1 and hi the
    one covering n-t (selected by two conditional mins over the grid,
    bounded broadcast); the winsorized SUM is the kept-band overlap sum
    plus t*lo + t*hi exactly. winsor_mean_micro is integer-exact.
    """
    from bigdatagenomic_spark.sources.tables import load_table

    # NO fan_out here (round 15, honest source-level A/B: OFF 3.472 s
    # vs ON 4.103 s): same 594k-cell non-collapsing grid as
    # q_x_trimmed_mean — the exchange ships more bytes than it saves.
    # The round-14 "wash" A/B never disabled this site (function-local
    # import, missed by the module-attribute monkeypatch).
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    # pin the grid: it feeds the cumsum AND the per-group total below,
    # so unpinned the fact scan + aggregate would run once per consumer
    # (the shuffle_audit measured 3 fact scans here pre-fix); the grid
    # is |distinct cents| narrow rows. pin_counted, so the cumsum's own
    # pin reuses this one instead of checkpointing the grid again.
    dv, _ = pin_counted(
        li.groupBy("grp", "cents").agg(F.count("*").cast("long").alias("_cnt"))
    )
    # pin `cum` lazily (round 15): it feeds the bounds broadcast AND
    # the kept-band aggregate, and each consumer otherwise replays the
    # per-partition window cumsum pass (profiled ~0.5 s each at sf0.1)
    cum = two_phase_cumsum(
        dv, "_cnt", [F.col("cents").asc()], group_cols=["grp"], out_col="_cum"
    ).localCheckpoint(eager=False)
    # n per group = SUM of the grid counts, rooted at the EAGER dv
    # checkpoint (round 15, same change as q_x_trimmed_mean): identical
    # to max(_cum) over cum, without replaying the window pass in the
    # broadcast build; dv is pinned so the fact scan cannot replay.
    tot = dv.groupBy("grp").agg(F.sum("_cnt").cast("long").alias("n"))
    wide = cum.join(F.broadcast(tot), "grp")
    bounds = wide.groupBy("grp", "n").agg(
        F.min(
            F.when(F.expr("_cum >= n div 20 + 1"), F.col("cents"))
        ).alias("lo"),
        F.min(
            F.when(F.expr("_cum >= n - n div 20"), F.col("cents"))
        ).alias("hi"),
    )
    base = wide.join(F.broadcast(bounds.drop("n")), "grp").withColumn(
        "_kept",
        F.expr(
            "CAST(greatest(0, least(_cum, n - n div 20)"
            "              - greatest(_cum - _cnt, n div 20)) AS BIGINT)"
        ),
    )
    return (
        base.groupBy("grp", "n", "lo", "hi")
        .agg(
            F.expr(
                "CAST((sum(CAST(cents AS DECIMAL(38,0)) * _kept)"
                "      + CAST(n div 20 AS DECIMAL(38,0)) * (lo + hi)) * 1000000"
                "     div CAST(n AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("winsor_mean_micro")
        )
        .orderBy("grp")
    )


Q_X_WINSORIZE_SQL = """
WITH li AS (
  SELECT l_returnflag AS grp,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         l_orderkey, l_linenumber
  FROM lineitem),
ranked AS (
  SELECT grp, cents,
         row_number() OVER (PARTITION BY grp
                            ORDER BY cents, l_orderkey, l_linenumber) AS r,
         CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM li),
bounds AS (
  SELECT grp, n, n // 20 AS t,
         min(CASE WHEN r = n // 20 + 1 THEN cents END) AS lo,
         max(CASE WHEN r = n - n // 20 THEN cents END) AS hi
  FROM ranked
  WHERE r = n // 20 + 1 OR r = n - n // 20
  GROUP BY grp, n)
SELECT r.grp, r.n, b.lo, b.hi,
       CAST(sum(CAST(greatest(least(r.cents, b.hi), b.lo) AS HUGEINT)) * 1000000
            // CAST(count(*) AS HUGEINT) AS BIGINT) AS winsor_mean_micro
FROM ranked r JOIN bounds b ON b.grp = r.grp
GROUP BY r.grp, r.n, b.lo, b.hi
ORDER BY r.grp
"""


# ---------------------------------------------------------------------------
# Weighted exact median (round 11, session 2)
# ---------------------------------------------------------------------------

def q_x_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median of line-item price per return flag, with
    quantity as the weight — "the price point at which half the UNITS
    (not half the line items) are cheaper": the inventory-weighted
    dual of q_x_exact_median, and the robust location estimate
    revenue planning uses when a few bulk lines would drag a mean.
    Returns the smallest price p with 2 * cumweight(<= p) >= total
    weight (the lower weighted median — a single witnessed data
    value, never an interpolation, so no float arithmetic happens on
    the price at all), plus the cumulative weight THROUGH that price
    and the group total.

    Scale shape — GRID algebra, the q_x_trimmed_mean lesson applied
    up front: the median is value-determined, so the cumulative track
    only needs per-DISTINCT-price weight sums, never per-row ranks.
    One map-side-combined (flag, price) cell aggregate collapses the
    fact, then :func:`two_phase_cumsum` runs over the |grid| cells
    (range-repartitioned, pinned pids — no per-group single-reducer
    window), and the crossing pick is a broadcast join of the 3-row
    total-weight table plus one bounded aggregate. The first cut of
    this operator cumsum-ranked every FACT row and measured 29x at
    the x100 sweep (67 s, SCALING_r11s2.json first run); the grid
    form moves only |distinct prices| rows after the cell aggregate.
    """
    from bigdatagenomic_spark.sources.tables import load_table

    # NO fan_out here (round 15, honest source-level A/B: OFF 2.383 s
    # vs ON 2.672 s; the round-14 "wash" never disabled this
    # function-local-import site). The (g, p) grid is fact-sized, so
    # the round-robin exchange ships the rows twice.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    # pin: the grid feeds the cumsum and the total; without it the
    # shuffle_audit measured FOUR fact scans for this operator.
    # pin_counted, so the cumsum's own pin reuses this one.
    cells, _ = pin_counted(
        li.select(
            F.col("l_returnflag").alias("g"),
            F.col("l_extendedprice").alias("p"),
            # floor() BEFORE the long cast on both engines: Spark's
            # cast truncates while DuckDB's CAST rounds half-even, so
            # a bare cast would silently diverge on non-integral
            # quantities (TPC-H quantities are integral, but the
            # operator shouldn't depend on that).
            F.floor("l_quantity").cast("long").alias("w"),
        )
        .groupBy("g", "p")
        .agg(F.sum("w").cast("long").alias("wsum"))
    )
    cum = two_phase_cumsum(
        cells, "wsum", [F.col("p").asc()], group_cols=["g"], out_col="cw"
    )
    tot = cells.groupBy("g").agg(F.sum("wsum").cast("long").alias("tw"))
    return (
        cum.join(F.broadcast(tot), "g")
        .where(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("g")
        .agg(
            F.min("p").alias("wmedian_price"),
            F.min("cw").cast("long").alias("cum_w_at_median"),
            F.first("tw").cast("long").alias("total_w"),
        )
        .select(
            F.col("g").alias("l_returnflag"),
            "wmedian_price",
            "cum_w_at_median",
            "total_w",
        )
        .orderBy("l_returnflag")
    )


Q_X_WEIGHTED_MEDIAN_SQL = """
WITH cells AS (
  SELECT l_returnflag AS g, l_extendedprice AS p,
         CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS wsum
  FROM lineitem GROUP BY 1, 2
), c AS (
  SELECT g, p,
         sum(wsum) OVER (PARTITION BY g ORDER BY p) AS cw,
         sum(wsum) OVER (PARTITION BY g) AS tw
  FROM cells
)
SELECT g AS l_returnflag, min(p) AS wmedian_price,
       CAST(min(cw) AS BIGINT) AS cum_w_at_median,
       CAST(min(tw) AS BIGINT) AS total_w
FROM c WHERE 2 * cw >= tw
GROUP BY g ORDER BY g
"""
