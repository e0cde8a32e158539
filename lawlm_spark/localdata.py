"""Literal-rows DataFrames built on the driver, with no Python worker.

`SparkSession.createDataFrame(list, schema)` pickles the rows into an
RDD of `defaultParallelism` slices.  Every action over such a frame
starts a Python worker to unpickle them again: a 1-row query frame that
is broadcast into several joins pays that in each of their jobs, and a
`coalesce(1)` on top (the sentinel-landing write pattern) evaluates all
the slices one after the other in one task.

`local_rows` converts the rows to a `pyarrow.Table` under the given
schema and hands that to `createDataFrame`.  Below
`spark.sql.execution.arrow.localRelationThreshold` (48 MB by default) the
JVM decodes the table into a `LocalRelation`: no RDD, no Python worker,
and no job to broadcast it.  Catalyst's `ConvertToLocalRelation` then
folds projections and filters over the frame on the driver.  A result
that is not a `LocalRelation` raises instead of quietly taking the
pickled-RDD path.

Values mean what they mean to `createDataFrame(list, schema)`: each one
goes through its Spark type's `toInternal`, so a naive `datetime` is the
Python process's local time, exactly as on the pickled path.  Use this
for every literal-rows frame (query sets, sentinels, codebooks, tiny
dims); real data comes from parquet scans and never hits this path.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType, _parse_datatype_string


def local_rows(spark: SparkSession, rows: list, schema: StructType | str) -> DataFrame:
    """A `LocalRelation` frame of `rows` (tuples in schema order): the
    rows and schema of spark.createDataFrame(rows, schema)."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    columns = [
        pa.array(
            [f.dataType.toInternal(row[i]) for row in rows],
            type=to_arrow_type(f.dataType),
        )
        for i, f in enumerate(schema.fields)
    ]
    df = spark.createDataFrame(pa.Table.from_arrays(columns, names=schema.names), schema)
    plan = df._jdf.queryExecution().logical().nodeName()
    if plan != "LocalRelation":
        raise ValueError(
            f"local_rows: {len(rows)} rows became a {plan}, not a LocalRelation "
            "(over spark.sql.execution.arrow.localRelationThreshold?)"
        )
    return df
