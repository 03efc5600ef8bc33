"""JVM-literal DataFrames for parameter-bounded row sets.

``spark.createDataFrame(list_of_rows, schema)`` backs the frame with a
PYTHON RDD of pickled rows: every ACTION whose plan contains such a
frame starts one Python worker task per partition to rehydrate it —
even for an empty list, which still parallelizes into
defaultParallelism empty partitions. Each such task costs ~0.2s of
CPU, and the cost is not the rows: pyspark's worker calls
``importlib.invalidate_caches()`` on every task, and on Python 3.11
that makes each of the 16 zipimporters over ``pyspark.zip`` re-read
the archive's directory (~27k entries). Measured ~0.25s per action
on a 4-core local session, paid again on every re-execution
(broadcast subtrees, unions, repeated consumers). For the
trained-book / step-frame literals this engine creates constantly
(KC/KS codebooks, Newton step rows, trajectory rows) and for the
empty "nothing seen yet" frames of the streaming runners, that
Python round IS the dominant cost of the downstream job at small SF
and pure overhead at any SF.

``literal_frame`` keeps the rows in the JVM instead:
- non-empty rows go through the Arrow ``createDataFrame(pandas)``
  path, converted ONCE at creation (driver-side, Arrow batch → JVM);
  execution reads JVM memory with no Python workers — measured
  0.034s/action vs 0.27, same values, same declared schema;
- no rows become an empty JVM ``LocalRelation`` with exactly the
  declared schema (names, types and nullability), so an action over
  it runs no task at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _parse_schema(spark: SparkSession, schema: str | StructType) -> StructType:
    if isinstance(schema, StructType):
        return schema
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(schema)


def literal_frame(
    spark: SparkSession, rows: list, schema: str | StructType
) -> DataFrame:
    """DataFrame of literal ``rows`` (tuples/lists, positional) with
    ``schema``, backed by JVM memory instead of a pickled-row Python
    RDD (module docstring). Values and schema are identical to
    ``spark.createDataFrame(rows, schema)``."""
    st = _parse_schema(spark, schema)
    if not rows:
        jspark = spark._jsparkSession
        jdf = jspark.createDataFrame(
            spark._jvm.java.util.ArrayList(), jspark.parseDataType(st.json())
        )
        return DataFrame(jdf, spark)
    import pandas as pd

    pdf = pd.DataFrame(
        {f.name: [row[i] for row in rows] for i, f in enumerate(st.fields)},
        columns=[f.name for f in st.fields],
    )
    return spark.createDataFrame(pdf, st)
