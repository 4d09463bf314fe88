"""Driver-side small tables as Arrow-backed ``LocalRelation`` frames.

Every table the engine builds from Python values (the seed dims, the
derived mapping dims, calendar bases, LSH hyperplanes, query and weight
tables) goes through ``local_frame``.  The rows become one
``pyarrow.Table`` that Spark decodes in the JVM into a ``LocalRelation``:
no pickled Python RDD, so evaluating the frame never forks a Python
worker, and re-scanning the JVM-held rows is cheap enough that there is
nothing to cache.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType | str
) -> DataFrame:
    """DataFrame of ``rows`` (tuples in ``schema`` field order) with exactly
    ``schema`` — a ``StructType`` or a DDL string such as
    ``"state_code string, rate decimal(6,4)"``.

    A NULL in a non-nullable field raises ``ValueError``, as the
    row-verifying ``createDataFrame`` path does."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    arrays = [
        pa.array(col, type=field.type)
        for col, field in zip(columns, arrow_schema, strict=True)
    ]
    for arr, field in zip(arrays, schema.fields):
        if not field.nullable and arr.null_count:
            raise ValueError(f"field {field.name} is not nullable, got NULL")
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
