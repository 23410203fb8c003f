"""Arrow-backed local DataFrames for bounded driver-side row sets.

``spark.createDataFrame(list_of_tuples, schema)`` parallelizes the rows
into a Python RDD: every job that touches the result then schedules a
real Python task just to re-emit the handful of driver rows (measured r6:
~250 ms per collect on the serving box — the Python task floor — and a
scheduled task on any cluster). The pandas/Arrow path instead produces a
true LocalRelation: collect is driver-side (~10 ms), and as a join input
it is a LocalTableScan the planner can broadcast without running tasks.

``local_df`` is the drop-in replacement used by every query-path site
that materializes bounded results or tiny join relations. Rows must be
non-null in non-string columns (true for every caller: ids, scores,
counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Bounded local ``rows`` (tuples/Rows) as an Arrow LocalRelation
    DataFrame with exactly ``schema`` (a DDL string or StructType). A row
    whose arity differs from the schema's field count raises
    ``ValueError``."""
    st = DataType.fromDDL(schema) if isinstance(schema, str) else schema
    assert isinstance(st, StructType)
    rows = [tuple(r) for r in rows]
    width = len(st.fields)
    for r in rows:
        if len(r) != width:
            raise ValueError(
                f"row arity {len(r)} does not match the schema's {width} "
                f"fields: {r!r}"
            )
    if not rows:
        return spark.createDataFrame([], st)
    import pandas as pd

    cols = list(zip(*rows))
    pdf = pd.DataFrame({f.name: list(c) for f, c in zip(st.fields, cols)})
    return spark.createDataFrame(pdf, schema=st)
