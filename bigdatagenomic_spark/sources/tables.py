"""Loaders for the driver-generated test tables (TESTDATA.md / FIXTURES.md §B).

Parquet scans are the engine's default source: columnar, predicate
pushdown, column pruning and partition pruning all come from Catalyst for
free (verify with ``df.explain`` → ``PushedFilters`` / ``ReadSchema``).

Every table is read with its schema declared (:data:`SCHEMAS`), so no
load runs a job: ``spark.read.parquet`` without a schema runs a one-task
schema-inference job per call, 43 of the 223 jobs a call of each
headline query ran (tools/job_census.py) before the schemas were
declared.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# The one home of the table schemas (FIXTURES.md §B), equal to what Spark
# infers from the parquet footers (tests/test_sources.py checks it). A
# file may hold fewer columns; the missing ones read as null.
SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
    "c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
    "p_size INT, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
    "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
    "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
    "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ",
    "events": "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING",
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}
TABLES = list(SCHEMAS)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ensure_session_confs(spark: SparkSession) -> None:
    """Set correctness-critical SQL confs at runtime.

    Callers (the correctness driver, notebooks) may hand us a vanilla
    SparkSession built without :func:`bigdatagenomic_spark.session.get_spark`,
    so every conf a query's *result* depends on must be (re)applied here —
    both are runtime-settable SQL confs, so ``conf.set`` is sufficient:

    * ``nanosAsLong`` — the parquet-reader flag ``get_spark`` sets too,
      so both sessions read alike. Older driver testdata stored
      ``events.ts`` as INT64 TIMESTAMP(NANOS), which the reader rejects
      without it; current testdata stores TIMESTAMP(MICROS,
      isAdjustedToUTC=false), which :data:`SCHEMAS` declares, and the
      flag is inert.
    * ``session.timeZone=UTC`` — timestamp formatting/extraction must agree
      with the DuckDB oracle regardless of host timezone.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` of ``sf_dir``, read with its declared schema.

    ``events.ts`` (like the two TPC-H dates) is ``TIMESTAMP_NTZ``: the
    files store parquet TIMESTAMP(MICROS, isAdjustedToUTC=false), naive
    wall-clock time as DuckDB's TIMESTAMP reads it, so every derived
    value (hour, date_trunc, unix_micros) is independent of
    ``spark.sql.session.timeZone``."""
    _ensure_session_confs(spark)
    return spark.read.schema(SCHEMAS[name]).parquet(os.path.join(sf_dir, f"{name}.parquet"))


def fan_out(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Raise map-side parallelism after a narrow-split scan (guide §2.5,
    "input skew": one huge unsplittable input partition).

    The driver testdata ships every table as ONE parquet row group, so a
    scan — and every map-side operator fused above it (tokenize, shingle,
    minhash, vector math) — executes as ONE task regardless of
    ``maxPartitionBytes`` (a row group is the atomic split unit; measured
    round 14: the whole q_text_novelty tokenize ran 1-task on local[32],
    2.06 s vs 0.53 s fanned out). At production scale the same table
    arrives in thousands of row groups, so this is a NO-OP whenever the
    scan already carries at least the session's default parallelism —
    the repartition only fires exactly in the degenerate-layout case it
    exists for. Round-robin (not keyed): the goal is slot balance, and
    Spark's sort-before-repartition keeps retries deterministic.

    Use at the root of CPU-heavy per-row pipelines; pure column
    projections and already-shuffle-rooted plans don't need it.
    """
    sc = df.sparkSession.sparkContext
    target = parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every test table as a temp view (for the SQL API surface)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
