"""Driver-side rows as a Spark local relation.

Several operators build a small frame from rows computed on the driver:
the assembly path walk, the two-phase offset tables, k-means centroids,
a shortest-path seed. ``spark.createDataFrame(<python rows>)`` plans such
a frame as a ``LogicalRDD`` over a Python RDD, so every job that reads it
(a broadcast included) starts Python workers to unpickle the rows.
:func:`local_frame` hands Spark an Arrow table instead, which it plans as
a ``LocalRelation`` (``LocalTableScan`` in the physical plan, with exact
size statistics): the rows live in the plan and no Python worker runs.
Above ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
default) Spark keeps the Arrow batches as a JVM-side RDD instead, which
needs no Python worker either.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from datetime import timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType


def _arrow_values(values: Sequence, data_type) -> Sequence:
    """Python values as Arrow takes them for a column of ``data_type``.

    A naive ``datetime`` means local time to ``createDataFrame(list)``;
    Arrow would read it as UTC, so it is made aware first."""
    if isinstance(data_type, TimestampType):
        return [
            v.astimezone(timezone.utc) if v is not None and v.tzinfo is None else v
            for v in values
        ]
    return values


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType
) -> DataFrame:
    """A ``LocalRelation`` frame of ``rows`` (tuples in ``schema``'s field
    order), equal to ``spark.createDataFrame(list(rows), schema)``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [
            pa.array(_arrow_values(col, f.dataType), type=t.type)
            for col, f, t in zip(columns, schema.fields, arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
