"""Unified batch/stream event transformations (S01-S06).

Each function is a pure DataFrame -> DataFrame plan; pass a batch
``events`` table and it runs as a normal Catalyst plan, pass a
``readStream`` DataFrame and the identical plan runs incrementally with
state. Watermarks (S04) are what bound streaming state at scale: without
them a windowed agg on a 100 TB/day stream accumulates state forever.
State shuffles on the grouping key (event_type / user_id), so the
number of shuffle partitions is also the state-store partition count —
size it to the key cardinality, not the data volume.

Window bounds are emitted as epoch *seconds* (BIGINT) rather than raw
timestamps so results hash identically across Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdatagenomic_spark.operators.relational import round2_portable
from bigdatagenomic_spark.sources.tables import load_table


def _maybe_watermark(events: DataFrame, watermark: str | None) -> DataFrame:
    # S04: watermarks only matter (and only apply) on streaming plans;
    # on batch input the same plan simply sees all rows.
    if watermark and events.isStreaming:
        return events.withWatermark("ts", watermark)
    return events


def tumbling_agg(
    events: DataFrame, duration: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """S02 (tumbling): per-window, per-event-type count + value sum."""
    return (
        _maybe_watermark(events, watermark)
        .groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            round2_portable(F.sum("value")).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("w_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_agg(
    events: DataFrame,
    duration: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """S02 (sliding): overlapping windows — each event lands in
    duration/slide windows."""
    return (
        _maybe_watermark(events, watermark)
        .groupBy(F.window("ts", duration, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("w_start"),
            "event_type",
            "n_events",
        )
    )


def session_agg(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """S03: per-user session windows (merge while inter-event gap < gap).

    Session end = last event ts + gap (Spark ``session_window``
    semantics; the DuckDB oracle reproduces them with gaps-and-islands).
    """
    return (
        _maybe_watermark(events, watermark)
        .groupBy(F.session_window(F.col("ts"), gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            round2_portable(F.sum("value")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("s_start"),
            F.unix_timestamp(F.col("w.end")).alias("s_end"),
            "n_events",
            "sum_value",
        )
    )


def dedup_events(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """S05: stateful dedup on event_id.

    Streaming uses ``dropDuplicatesWithinWatermark`` so the seen-keys
    state is bounded by the watermark delay (the unbounded
    ``dropDuplicates`` would OOM the state store on an infinite
    stream); batch mode is plain dropDuplicates over all rows.
    """
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


def enrich_with_nation(events: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """S06: stream-static join — enrich events with the customer's nation.

    Both dims are broadcast: a stream-static join against a broadcast
    table is stateless (no streaming state at all), the right shape for
    a slowly-changing dimension at any stream volume.
    """
    dim = F.broadcast(
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            F.col("c_custkey"),
            F.col("n_name").alias("nation_name"),
        )
    )
    return events.join(dim, events.user_id == dim.c_custkey, "inner").select(
        "event_id", "ts", "user_id", "event_type", "value", "nation_name"
    )


# --- batch-mode registry entries (oracle-checked; SURVEY.md §2.B S02/S03) ---


def q_s02_window_agg(spark, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return tumbling_agg(ev, "1 hour").orderBy("w_start", "event_type")


def q_s03_session_agg(spark, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return session_agg(ev, "30 minutes").orderBy("user_id", "s_start")


def stream_stream_click_view_join(
    clicks: DataFrame,
    views: DataFrame,
    max_lag: str = "30 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: each click matched to the same user's views
    within the preceding ``max_lag``.

    Both sides carry watermarks and the join condition time-bounds the
    match, so Spark can size and EVICT the buffered state on both sides
    — an unbounded-condition stream-stream join would buffer both
    streams forever. Works identically on batch inputs (the unified-op
    contract), where the time bound is just a predicate.

    ``how="left_outer"`` is S15: clicks with NO qualifying view emit
    once with NULL view columns — but only when the watermark has
    passed far enough that no future view can still match (matched
    rows emit eagerly, like the inner join). Rows whose eviction
    horizon never arrives before the stream ends stay buffered — the
    documented outer-join semantics, pinned by the S15 test.
    """
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    )
    # Per-input gates: a batch clicks frame joined to a streaming views
    # frame must still watermark the views side, else its buffered
    # state is unbounded (same rationale as stream_funnel_join).
    if clicks.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    if views.isStreaming:
        v = v.withWatermark("view_ts", watermark)
    return c.join(
        v,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr(f"INTERVAL {max_lag}")),
        how,
    ).select(
        "click_id",
        F.col("c_user").alias("user_id"),
        F.unix_timestamp("click_ts").alias("click_ts"),
        "view_id",
        F.unix_timestamp("view_ts").alias("view_ts"),
    )


def q_s06_enrich_shape(spark, sf_dir: str) -> DataFrame:
    """S06 batch shape: the same stream-static enrich join, driver-
    checkable (the unified Dataset contract means this IS the streaming
    operator — `isStreaming` only toggles the watermark)."""
    ev = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        enrich_with_nation(ev, c, n)
        .select(
            "event_id",
            F.unix_timestamp("ts").alias("ts_epoch"),
            "user_id",
            "event_type",
            "value",
            "nation_name",
        )
        .orderBy("event_id")
    )


def q_s07_clickview_shape(spark, sf_dir: str) -> DataFrame:
    """S07 batch shape: the stream-stream interval join on the batch
    events table (clicks matched to same-user views in the preceding
    30 minutes)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    views = ev.where(F.col("event_type") == "view")
    return stream_stream_click_view_join(clicks, views).orderBy(
        "click_id", "view_id"
    )


def stream_funnel_join(
    views: DataFrame,
    clicks: DataFrame,
    purchases: DataFrame,
    view_to_click: str = "6 hours",
    click_to_purchase: str = "12 hours",
    watermark: str = "12 hours",
) -> DataFrame:
    """S16: CASCADED stream-stream inner joins — the three-stage
    funnel (view → click → purchase, same user, each stage within its
    window — 6h/12h, sized so the synthetic 30-day event stream yields
    a non-trivial funnel at every SF) as one continuous query. Spark supports chaining
    stream-stream joins when every side is watermarked and every join
    condition time-bounds the match: the intermediate view⋈click state
    is itself evictable, so state stays bounded at any stream length.
    Works identically on batch inputs (the unified-op contract).
    """
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    )
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    # Watermark each streaming side INDEPENDENTLY: gating all three on
    # views.isStreaming would leave clicks/purchases unwatermarked when
    # views happens to be a batch frame in a mixed query, making the
    # stream-stream join state unbounded (or the query rejected).
    # withWatermark is only legal on streaming Datasets, hence per-input.
    if views.isStreaming:
        v = v.withWatermark("view_ts", watermark)
    if clicks.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    if purchases.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    vc = v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {view_to_click}")
        ),
        "inner",
    ).select(
        # demote the FIRST stage's event-time column to a plain long:
        # Spark permits at most ONE event-time column per stream side,
        # so the intermediate keeps click_ts as its sole watermark
        # carrier into the second join
        "view_id",
        F.unix_timestamp("view_ts").alias("view_ts_s"),
        "click_id",
        "c_user",
        "click_ts",
    )
    out = vc.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {click_to_purchase}")
        ),
        "inner",
    )
    return out.select(
        "view_id",
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        F.col("view_ts_s").alias("view_ts"),
        F.unix_timestamp("click_ts").alias("click_ts"),
        F.unix_timestamp("purchase_ts").alias("purchase_ts"),
    )


def q_s16_funnel_join_shape(spark, sf_dir: str) -> DataFrame:
    """S16 batch shape: the cascaded view→click→purchase funnel join
    on the batch events table."""
    ev = load_table(spark, sf_dir, "events")
    return stream_funnel_join(
        ev.where(F.col("event_type") == "view"),
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    ).orderBy("view_id", "click_id", "purchase_id")


Q_S16_FUNNEL_JOIN_SQL = """
SELECT v.event_id AS view_id, c.event_id AS click_id,
       p.event_id AS purchase_id, v.user_id,
       CAST(floor(epoch(v.ts)) AS BIGINT) AS view_ts,
       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ts,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'view') v
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = v.user_id
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 12 HOUR
ORDER BY view_id, click_id, purchase_id
"""


def q_s15_leftjoin_shape(spark, sf_dir: str) -> DataFrame:
    """S15 batch shape: the stream-stream LEFT OUTER interval join on
    the batch events table — clicks with no same-user view in the
    preceding 30 minutes carry NULL view columns (the rows the
    streaming form emits on watermark expiry)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click")
    views = ev.where(F.col("event_type") == "view")
    return stream_stream_click_view_join(
        clicks, views, how="left_outer"
    ).orderBy("click_id", "view_id")


Q_S15_LEFTJOIN_SQL = """
SELECT c.event_id AS click_id, c.user_id,
       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ts,
       v.event_id AS view_id,
       CAST(floor(epoch(v.ts)) AS BIGINT) AS view_ts
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
       ON c.user_id = v.user_id
      AND v.ts <= c.ts
      AND v.ts >= c.ts - INTERVAL 30 MINUTE
ORDER BY click_id, view_id
"""


Q_S06_ENRICH_SQL = """
SELECT e.event_id, CAST(floor(epoch(e.ts)) AS BIGINT) AS ts_epoch, e.user_id,
       e.event_type, e.value, n.n_name AS nation_name
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
ORDER BY e.event_id
"""

Q_S07_CLICKVIEW_SQL = """
SELECT c.event_id AS click_id, c.user_id,
       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_ts,
       v.event_id AS view_id,
       CAST(floor(epoch(v.ts)) AS BIGINT) AS view_ts
FROM events c
JOIN events v ON c.user_id = v.user_id
            AND v.ts <= c.ts
            AND v.ts >= c.ts - INTERVAL 30 MINUTE
WHERE c.event_type = 'click' AND v.event_type = 'view'
ORDER BY click_id, view_id
"""


# ---------------------------------------------------------------------------
# S11: streaming LSH index maintenance (foreachBatch over a doc stream)
# ---------------------------------------------------------------------------

def run_lsh_index_maintenance(
    doc_stream: DataFrame,
    index_path: str,
    index_table: str,
    pairs_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 8,
    timeout_s: int = 300,
    timings: list | None = None,
) -> None:
    """S11: maintain the stored LSH band index from a document stream
    and emit near-dup CANDIDATE pairs online (the daily-crawl pipeline
    of operators/dedup.py:q_dedup_lsh_incremental, run continuously).

    Per micro-batch, inside ``foreachBatch``:
      1. map-only band keys for the batch's docs (shared banding code —
         operators/dedup.py:lsh_band_table — so batch and stream can't
         drift);
      2. candidate pairs = batch-vs-INDEX join (the stored table is
         bucketed on (band, bkey): zero Exchange on the index side,
         only the small batch shuffles) + within-batch self-join,
         normalized to (a_id < b_id) and appended to ``pairs_dir``;
      3. the batch's bands append into the bucketed index table.
    Pairing runs BEFORE the append, so a batch never pairs with itself
    through the index — each pair is emitted exactly once (both docs in
    one batch: step 2's self-join; split across batches: the later
    batch's index join). The union over all batches therefore equals
    the full-corpus ``lsh_candidate_pairs`` set (pinned in
    tests/test_streaming.py). Exact-Jaccard verification stays a batch
    job over the emitted candidates (operators/dedup.py:_jaccard_verify)
    — the classic online-candidates/offline-verify split.

    ``foreachBatch`` is at-least-once into non-transactional sinks; on
    recovery a re-run batch re-appends its pairs. Downstream consumers
    dedup on the pair key (or gate on batch_id), the standard idempotent
    -sink discipline.

    Index-growth cost, MEASURED (SCALING_streaming_r12.json, round-12
    sweep): per-micro-batch wall is flat across a 100x stored index
    (20k -> 2M rows / 0.7 -> 65 MB: median 1.77/1.42/1.29 s) — the
    probe is a bucketed (band, bkey) equi-join with no index-side
    Exchange, so the only index-size term is the columnar scan of
    three narrow columns. At corpus sizes where that scan itself
    dominates, the mitigations are bucket-count scaling at table
    creation and periodic compaction of the appended files — the
    layout already supports both.

    ``timings`` (optional): a list the handler appends
    ``{"batch_id", "wall_s"}`` dicts to — per-micro-batch wall clock
    for the whole handle body (probe join + pair append + index
    append). The state-at-scale sweep read it to measure the flat
    per-batch cost above (SCALING.md Part 11; the sweep is
    `git show 511d62e:tools/scale_check_streaming_s11.py`); no effect
    on the pipeline itself.
    """
    import time as _time

    from bigdatagenomic_spark.operators.dedup import lsh_band_table

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _t0 = _time.time()
        spark = batch_df.sparkSession
        bands = lsh_band_table(batch_df).localCheckpoint(eager=True)
        new = bands.select(F.col("doc_id").alias("b_id"), "band", "bkey")
        within = (
            bands.select(F.col("doc_id").alias("a_id"), "band", "bkey")
            .join(new, ["band", "bkey"])
            .where(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id")
        )
        pairs = within
        if spark.catalog.tableExists(index_table):
            idx = spark.table(index_table).select(
                F.col("doc_id").alias("i_id"), F.col("band").alias("i_band"), "bkey"
            )
            cross = (
                idx.join(new, "bkey")
                .where(F.col("i_band") == F.col("band"))
                .where(F.col("i_id") != F.col("b_id"))
                .select(
                    F.least("i_id", "b_id").alias("a_id"),
                    F.greatest("i_id", "b_id").alias("b_id"),
                )
            )
            pairs = pairs.unionByName(cross)
        (
            pairs.dropDuplicates(["a_id", "b_id"])
            .write.mode("append")
            .parquet(pairs_dir)
        )
        (
            bands.select("doc_id", "band", "bkey")
            .write.option("path", index_path)
            .bucketBy(n_buckets, "band", "bkey")
            .sortBy("band", "bkey")
            .format("parquet")
            .mode("append")
            .saveAsTable(index_table)
        )
        if timings is not None:
            timings.append(
                {"batch_id": batch_id, "wall_s": round(_time.time() - _t0, 3)}
            )

    q = (
        doc_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(timeout_s):
            raise TimeoutError(f"S11 index maintenance did not finish in {timeout_s}s")
    finally:
        if q.isActive:
            q.stop()


def trending_topk(events: DataFrame, duration: str = "1 hour", k: int = 3,
                  watermark: str = "1 hour") -> DataFrame:
    """S14: per-window trending event types — the top-k event types by
    count inside each tumbling window, ties broken by event_type ASC
    (deterministic, so the batch shape hash-matches its oracle).

    Streaming contract: the COUNT stage is the incremental part — a
    watermarked tumbling agg whose state Spark bounds and emits on
    window close (append mode). The RANK stage is applied per closed
    window downstream (foreachBatch over the appended rows, the S11
    pattern — ranking is a per-finalized-window decision, not
    incremental state; a rank over an open window would have to
    retract). On batch input the identical plan is just agg + window
    rank. The rank window partitions by w_start — bounded by the event-
    type cardinality per window, never by stream volume.
    """
    from pyspark.sql import Window as W

    counts = (
        _maybe_watermark(events, watermark)
        .groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("w_start"),
            "event_type",
            "n_events",
        )
    )
    if events.isStreaming:
        # incremental part only; callers rank per closed window in
        # foreachBatch (tests/test_streaming.py pins batch-equivalence)
        return counts
    rk = W.partitionBy("w_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        counts.select(
            "w_start",
            "event_type",
            "n_events",
            F.row_number().over(rk).alias("rank"),
        )
        .where(F.col("rank") <= k)
        .orderBy("w_start", "rank")
    )


def q_s14_trending_shape(spark, sf_dir: str) -> DataFrame:
    """S14 batch shape: hourly trending top-3 event types."""
    ev = load_table(spark, sf_dir, "events")
    return trending_topk(ev, "1 hour", k=3)


Q_S14_TRENDING_SQL = """
WITH counts AS (
  SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS w_start,
         event_type, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT w_start, event_type, n_events,
         CAST(row_number() OVER (PARTITION BY w_start
              ORDER BY n_events DESC, event_type) AS INT) AS rank
  FROM counts
)
SELECT w_start, event_type, n_events, rank
FROM ranked WHERE rank <= 3 ORDER BY w_start, rank
"""
