"""PySpark-native analytics engine with the query & data-processing
capabilities of the reference ETL service (Cofers/etl-mp-transactions),
re-expressed Spark-first: DataFrame/SQL plans optimized by Catalyst,
Structured Streaming for the event path, and LLM-data-pipeline operators
(dedup, similarity search, multimodal columns, text analysis) designed
for 100 TB scale.

Nothing in here is a translation of the reference's row-at-a-time Python;
every operator is declared as a DataFrame plan so Catalyst/Tungsten pick
the physical strategy (predicate pushdown, broadcast anti-joins,
whole-stage codegen). See SURVEY.md for the operator inventory and the
file:line parity citations into /root/reference.
"""

__all__ = ["get_spark"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # imported lazily: the Python worker daemon (pyworker.py) is run
    # with ``python -m``, which imports this package before it may
    # import pyspark
    if name == "get_spark":
        from etl_mp_transactions_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
