"""Driver-side rows as a Spark frame, built through Arrow.

``spark.createDataFrame(list, schema)`` plans as ``Scan ExistingRDD``:
the rows are pickled into an RDD and every execution of every consumer
runs them through a Python worker again (a warm ``count()`` on local[4],
4-vCPU VM: 0.61 s at 60 rows and 0.66 s at 60k, against 0.19 and
0.42 s through Arrow). A ``pyarrow.Table`` instead
becomes a ``LocalRelation`` (``LocalTableScan`` in the physical plan):
no Python worker, and a size Catalyst can see and broadcast.
"""

from __future__ import annotations

from typing import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: StructType | str
) -> DataFrame:
    """``rows`` (tuples in ``schema``'s column order) as an Arrow-backed
    ``LocalRelation`` frame. ``schema`` is a ``StructType`` or a DDL
    column list.

    Values go through pyarrow's conversion for each column's Arrow type,
    so a 64-bit id and a NULL stay exact (no pandas float64 detour). A
    row of the wrong width raises instead of being truncated.
    """
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = pa.struct(list(to_arrow_schema(schema)))
    table = pa.Table.from_struct_array(pa.array(list(rows), type=arrow))
    return spark.createDataFrame(table, schema)
