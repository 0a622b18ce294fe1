"""``sources.local.local_frame``: driver-side rows as a local relation.

Every shape the package builds from driver rows (the assembly path walk,
the two-phase offset tables, centroid tables, seeds) must come back equal
to ``createDataFrame(list)`` and plan as a ``LocalRelation``, so no job
over it starts a Python worker.
"""

from __future__ import annotations

import ast
import os
import time
from datetime import date, datetime
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

import bigdatagenomic_spark
from bigdatagenomic_spark.operators import assembly as asm
from bigdatagenomic_spark.sources.graphlab_text import read_graphlab_text, reads_to_edges
from bigdatagenomic_spark.sources.local import local_frame

DATA = os.path.join(os.path.dirname(__file__), "data")


def _schema(*fields):
    return StructType([StructField(n, t, nullable) for n, t, nullable in fields])


def _off_schema(off_type):
    return _schema(("_pid", IntegerType(), True), ("_off", off_type, True))


SHAPES = {
    "path": (
        _schema(("pos", LongType(), True), ("read_id", LongType(), True)),
        [(0, 33), (1, 10), (2, 38)],
    ),
    "grouped_offsets": (
        _schema(
            ("_pid", IntegerType(), True),
            ("source", StringType(), True),
            ("day", DateType(), True),
            ("_off", LongType(), True),
        ),
        [(0, "a", date(2024, 1, 1), 0), (1, "a", date(2024, 1, 1), 17), (0, None, None, 0)],
    ),
    "off_long": (_off_schema(LongType()), [(0, None), (1, 5), (2, -3)]),
    "off_double": (_off_schema(DoubleType()), [(0, None), (1, 0.1), (2, 2.5e300)]),
    "off_string": (_off_schema(StringType()), [(0, None), (1, "ab"), (2, "ünï")]),
    "off_date": (_off_schema(DateType()), [(0, None), (1, date(1999, 12, 31))]),
    "off_timestamp": (
        _off_schema(TimestampType()),
        [(0, None), (1, datetime(2020, 1, 2, 3, 4, 5, 6)), (2, datetime(1969, 7, 20, 20, 17))],
    ),
    "centroids": (
        _schema(("cluster", IntegerType(), False), ("centroid", ArrayType(DoubleType()), False)),
        [(0, [1.0, 2.5, -0.125]), (3, [0.0, 0.0, 1e-9])],
    ),
    "empty": (
        _schema(("gap_after", LongType(), True), ("next_present", LongType(), True)),
        [],
    ),
}


def _is_local_relation(df) -> bool:
    analyzed = df._jdf.queryExecution().analyzed()
    return (
        analyzed.getClass().getSimpleName() == "LocalRelation"
        and "LogicalRDD" not in analyzed.toString()
    )


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_equals_create_data_frame(spark, shape):
    schema, rows = SHAPES[shape]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema == schema
    assert got.collect() == want.collect()
    assert _is_local_relation(got)


def test_naive_timestamps_are_local_time(spark, monkeypatch):
    """A naive datetime means local time to ``createDataFrame(list)``;
    the Arrow path must keep that meaning off UTC too."""
    schema, rows = SHAPES["off_timestamp"]
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        micros = F.unix_micros("_off").alias("us")
        got = local_frame(spark, rows, schema).select("_pid", micros).collect()
        want = spark.createDataFrame(rows, schema).select("_pid", micros).collect()
    finally:
        monkeypatch.undo()
        time.tzset()
    assert got == want
    assert want[1].us == 1577952245000006  # 2020-01-02 03:04:05.000006 EST


def test_driver_walk_path_is_a_local_table_scan(spark):
    reads = read_graphlab_text(spark, os.path.join(DATA, "smoke3.txt"))
    with_next = asm.with_next_id(
        asm.flag_valid(reads, reads_to_edges(reads), 38), reads_to_edges(reads)
    )
    path = asm.extract_path(with_next, 33, n_rows_hint=3)
    plan = path._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert [tuple(r) for r in path.collect()] == [(0, 33), (1, 10), (2, 38)]


def test_no_package_module_calls_create_data_frame():
    root = Path(bigdatagenomic_spark.__file__).parent
    helper = root / "sources" / "local.py"
    callers = [
        f"{path.relative_to(root)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        if path != helper
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and node.attr == "createDataFrame"
    ]
    assert not callers, f"build driver-side frames with local_frame: {callers}"
