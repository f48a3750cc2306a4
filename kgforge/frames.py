"""Driver-side frames as Arrow local relations.

``spark.createDataFrame(<python list>, schema)`` plans as ``Scan
ExistingRDD`` over ``sc.parallelize``: every action over it starts Python
worker tasks just to unpickle the rows.  The same rows handed over as a
``pyarrow.Table`` are decoded in the JVM and plan as a ``LocalTableScan``;
no Python worker ever runs.  For the dict-sized frames the driver builds --
entity dictionaries, checkpoint stats, metric rows, query constants -- that
worker start-up is most of the cost of every job that reads them.
"""

from __future__ import annotations

from typing import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(
    spark: SparkSession, rows: Iterable[tuple] | pa.Table, schema: str | StructType
) -> DataFrame:
    """DataFrame of driver ``rows`` (tuples in field order) under ``schema``
    (a DDL string or a StructType), built from Arrow.  Same schema and rows
    as ``spark.createDataFrame(list(rows), schema)``.  ``rows`` may also be
    a ``pyarrow.Table`` whose columns are in field order: it is cast to the
    schema, so Arrow columns reach Spark without a trip through Python
    objects."""
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    width = len(struct.fields)
    if isinstance(rows, pa.Table):
        # a column-count mismatch raises ArrowInvalid, a ValueError
        table = rows.rename_columns(arrow_schema.names).cast(arrow_schema)
    else:
        rows = list(rows)
        if any(len(r) != width for r in rows):
            raise ValueError(f"every row must have {width} fields: {struct.simpleString()}")
        columns = list(zip(*rows)) or [()] * width
        table = pa.Table.from_arrays(
            [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
            schema=arrow_schema,
        )
    return spark.createDataFrame(table, struct)
