"""Driver-held rows as a Spark frame.

``createDataFrame`` over a list of Python rows plans a ``LogicalRDD``
over a parallelized Python collection: every action on it starts a
Spark job whose tasks spawn Python workers to unpickle the rows, and
the optimizer sees no row count. An Arrow table instead becomes a
``LocalRelation``: the rows live in the plan, a scan of them is a
``LocalTableScan`` with no job, and the size estimate is exact.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """The frame ``spark.createDataFrame(rows, ddl)`` would give (same
    schema, same rows) as a ``LocalRelation``. ``rows`` is a sequence
    of tuples in ``ddl`` field order; it may be empty. A row of the
    wrong width raises ValueError."""
    schema = T.DataType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows, strict=True)) or [() for _ in arrow]
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type) for col, field in zip(cols, arrow, strict=True)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)
