"""Source/sink round-trips: CSV and JSON interchange vs the parquet base.

The graphlab text reader (R1) is covered in test_assembly.py; this file
covers the general-format surface in sources.files, the declared table
schemas and the ``sources.tables.fan_out`` repartition rule.
"""

from __future__ import annotations

import importlib.util
import os
import re

import pytest
from pyspark.sql import functions as F

from bigdatagenomic_spark.plans.inspect import formatted_plan
from bigdatagenomic_spark.sources.files import (
    read_csv,
    read_json,
    write_csv,
    write_json,
)
from bigdatagenomic_spark.sources.tables import TABLES, fan_out, load_table, load_tables

SF_DIR = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "job_census", os.path.join(ROOT, "tools", "job_census.py")
)
job_census = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(job_census)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_csv_roundtrip(spark, tmp_path):
    nation = load_table(spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_csv")
    write_csv(nation, path)
    back = read_csv(spark, path, nation.schema)
    assert back.schema == nation.schema
    assert _rows(back) == _rows(nation)


def test_json_roundtrip(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders")
    path = str(tmp_path / "orders_json")
    write_json(orders, path)
    back = read_json(spark, path, orders.schema)
    assert back.schema == orders.schema
    assert _rows(back) == _rows(orders)


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Date-partitioned parquet + a date filter -> the scan plans with
    PartitionFilters, i.e. untouched days are never read. At 100 TB the
    partition layout IS the primary index."""
    from pyspark.sql import functions as F

    from bigdatagenomic_spark.plans.inspect import formatted_plan
    from bigdatagenomic_spark.sources.writers import write_parquet

    ev = load_table(spark, SF_DIR, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    write_parquet(ev, path, partition_by=["event_date"])

    back = spark.read.parquet(path).where(F.col("event_date") == "2024-01-05")
    plan = formatted_plan(back)
    assert "PartitionFilters: [" in plan
    assert "event_date" in plan.split("PartitionFilters")[1].split("]")[0]
    # and the filter actually restricts what is read
    assert back.count() == ev.where(F.col("event_date") == "2024-01-05").count()


def test_json_corrupt_record_capture(spark, tmp_path):
    """PERMISSIVE mode surfaces unparseable rows in _corrupt_record;
    FAILFAST raises — never the reference's silent zero-fill."""
    import pytest

    from pyspark.sql import types as T

    from bigdatagenomic_spark.sources.files import (
        CORRUPT_COL,
        with_corrupt_capture,
    )

    path = str(tmp_path / "mixed.json")
    with open(path, "w") as fh:
        fh.write('{"a": 1, "b": "ok"}\n')
        fh.write("{BROKEN not json\n")
        fh.write('{"a": 3, "b": "fine"}\n')

    base = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    df = read_json(spark, path, with_corrupt_capture(base)).cache()
    good = df.where(df[CORRUPT_COL].isNull())
    bad = df.where(df[CORRUPT_COL].isNotNull())
    assert {r.a for r in good.collect()} == {1, 3}
    assert bad.count() == 1
    assert "BROKEN" in bad.collect()[0][CORRUPT_COL]

    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        read_json(spark, path, base, mode="FAILFAST").collect()


def test_events_load_on_vanilla_session_confs(spark):
    """Regression for the round-1 driver failure, updated for the
    regenerated testdata: the correctness harness builds its own vanilla
    SparkSession (no ``get_spark`` confs), so ``load_table`` must itself
    (re)apply every conf the result depends on. events.ts now arrives as
    parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) → TimestampNTZType
    (declared in ``sources.tables.SCHEMAS``).
    Pin the new invariant: ts is NTZ, the confs self-heal, and a derived
    value is independent of the session timezone."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    saved_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ev = load_table(spark, SF_DIR, "events")
        assert isinstance(ev.schema["ts"].dataType, T.TimestampNTZType)
        assert ev.count() > 0
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        # NTZ derived values ignore the session TZ entirely: the same
        # extraction under two TZ confs must agree (this is exactly the
        # property that keeps the DuckDB oracle in hash-parity).
        def min_hour():
            return ev.select(F.min(F.hour("ts")).alias("h")).collect()[0].h

        spark.conf.set("spark.sql.session.timeZone", "UTC")
        h_utc = min_hour()
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        h_ny = min_hour()
        assert h_utc is not None and h_utc == h_ny
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", saved_tz)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schemas_equal_inferred(spark, sf):
    """Every table's declared schema is the one Spark infers from the
    parquet footers, at each scale of the test data."""
    sf_dir = os.path.join(os.path.dirname(SF_DIR), sf)
    for name in TABLES:
        inferred = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
        assert load_table(spark, sf_dir, name).schema == inferred, name


def test_load_tables_runs_no_job(spark):
    """With the schemas declared, loading all ten tables runs no Spark
    job (an inferred schema costs one job per table)."""
    sc = spark.sparkContext
    group = "test-load-tables-jobs"
    sc.setJobGroup(group, group)
    try:
        load_tables(spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert job_census.group_counts(spark, group)["jobs"] == 0


def test_orc_roundtrip(spark, tmp_path):
    from bigdatagenomic_spark.sources.files import read_orc, write_orc

    orders = load_table(spark, SF_DIR, "orders")
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path)
    back = read_orc(spark, path)
    assert [f.name for f in back.schema.fields] == [f.name for f in orders.schema.fields]
    assert _rows(back) == _rows(orders)


def test_orc_filter_pushdown(spark, tmp_path):
    from bigdatagenomic_spark.sources.files import read_orc, write_orc

    orders = load_table(spark, SF_DIR, "orders")
    path = str(tmp_path / "orders_orc_pd")
    write_orc(orders, path)
    df = read_orc(spark, path).where("o_orderkey < 100").select("o_orderkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_orderkey" in plan.split("PushedFilters")[1][:120]


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution across partition generations: an added column
    appears (null-filled for old files) under mergeSchema, and the
    reader without it still serves the common prefix — the contract
    that lets a 100 TB table grow columns without rewriting history."""
    from pyspark.sql import functions as F

    base = load_table(spark, SF_DIR, "nation")
    v1 = str(tmp_path / "evo/gen=1")
    v2 = str(tmp_path / "evo/gen=2")
    base.write.parquet(v1)
    base.withColumn("population", F.col("n_nationkey") * 1000).write.parquet(v2)

    merged = spark.read.option("mergeSchema", "true").parquet(
        str(tmp_path / "evo")
    )
    assert "population" in merged.columns
    assert merged.count() == 2 * base.count()
    nulls = merged.where(F.col("population").isNull()).count()
    assert nulls == base.count()  # old generation null-filled
    # plain read still works and serves the common columns
    plain = spark.read.parquet(str(tmp_path / "evo"))
    assert plain.select("n_nationkey", "n_name").count() == 2 * base.count()


def test_events_queries_are_session_tz_independent(spark):
    """Repo-wide NTZ pin (VERDICT r4 item 8). events.ts is
    TimestampNTZType, so hour/date_trunc ignore the session timezone —
    but ``unix_timestamp`` on NTZ converts *through* the session TZ, so
    epoch-deriving queries (asof join, date arith, window-agg shapes)
    are only TZ-conf-independent because ``load_table`` self-heals the
    session to UTC on every call. Pin that end-to-end: each query must
    return byte-identical rows whether the caller's session started in
    UTC or America/New_York."""
    from bigdatagenomic_spark import queries as Q

    qs = Q.queries()
    names = ["q18_date_funcs", "q_x_date_arith", "q_x_asof_join", "q_s02_window_agg"]
    saved_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        results = {}
        for tz in ("UTC", "America/New_York"):
            for name in names:
                spark.conf.set("spark.sql.session.timeZone", tz)
                rows = sorted(map(str, qs[name](spark, SF_DIR).collect()))
                results.setdefault(name, []).append(rows)
        for name, (utc_rows, ny_rows) in results.items():
            assert utc_rows == ny_rows, f"{name} diverges across session TZ"
            assert utc_rows  # non-empty: the comparison actually tested data
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved_tz)


def test_write_rebalanced_coalesces_small_files(spark, tmp_path):
    """A 32-shuffle-partition aggregate written naively emits one file
    per partition; write_rebalanced must merge them toward the size
    target (here: everything fits one advisory partition -> 1 file),
    while producing identical data."""
    import os

    from pyspark.sql import functions as F

    from bigdatagenomic_spark.sources.writers import write_rebalanced

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    agg = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))

    naive_dir, reb_dir = str(tmp_path / "naive"), str(tmp_path / "reb")
    agg.write.mode("overwrite").parquet(naive_dir)
    write_rebalanced(agg, reb_dir, target_mb=32)

    def parquet_files(d):
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert len(parquet_files(reb_dir)) == 1, parquet_files(reb_dir)
    assert len(parquet_files(reb_dir)) < max(2, len(parquet_files(naive_dir)))
    back = spark.read.parquet(reb_dir)
    assert back.count() == agg.count()
    # conf restored after the write
    assert spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    ) != str(32 * 1024 * 1024)


def test_write_training_shards_layout_and_replay(spark, tmp_path):
    """shard=K dirs exist, every doc appears exactly once, and a loader
    reading one shard in position order replays assign_shards' schedule."""
    from bigdatagenomic_spark.operators.llm_prep import assign_shards
    from bigdatagenomic_spark.sources.writers import write_training_shards

    docs = spark.createDataFrame(
        [(i, f"doc text {i}") for i in range(60)], "doc_id LONG, text STRING"
    )
    out = str(tmp_path / "epoch0")
    write_training_shards(docs, out, n_shards=4, max_records_per_file=7)
    import os

    dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert dirs == [f"shard={k}" for k in range(4)]
    back = spark.read.parquet(out)
    assert back.count() == 60
    assert back.select("doc_id").distinct().count() == 60
    # shard-0 read back in pos order == the planner's shard-0 schedule
    got = [
        r.doc_id
        for r in back.where("shard = 0").orderBy("pos").select("doc_id").collect()
    ]
    want = [
        r.doc_id
        for r in assign_shards(docs, n_shards=4)
        .where("shard = 0")
        .orderBy("pos")
        .select("doc_id")
        .collect()
    ]
    assert got == want and len(got) > 0


def test_fan_out_fires_only_below_default_parallelism(spark):
    target = spark.sparkContext.defaultParallelism
    d = load_table(spark, SF_DIR, "documents")
    assert d.rdd.getNumPartitions() < target  # single-row-group testdata
    fanned = fan_out(d)
    assert fanned.rdd.getNumPartitions() == target
    # already-wide input: identity, no exchange added
    wide = d.repartition(target + 4)
    assert fan_out(wide) is wide


def test_fan_out_keeps_pushdown_and_pruning(spark):
    d = fan_out(load_table(spark, SF_DIR, "documents"))
    q = d.where(F.col("text").isNotNull()).select("doc_id")
    plan = formatted_plan(q)
    # filter still reaches the parquet scan below the fan-out exchange
    assert "PushedFilters: [IsNotNull(text)]" in plan
    # and the scan reads only the two needed columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(m.group(1).split(",")) <= {"doc_id:bigint", "text:string"}


def test_fan_out_preserves_rows(spark):
    d = load_table(spark, SF_DIR, "documents")
    assert fan_out(d).count() == d.count()
