"""UDF / UDAF registration surface (SURVEY §2.10).

The reference threads a ``UDFRegistration`` set into its Hive query
generator (core/.../query/hive/HiveQueryGenerator.scala:17) and supports
Druid JavaScript UDFs (DerivedFunction.scala:113). The Spark-first
equivalent is ``spark.udf.register`` -- registered names become callable
from ANY derived-column expression, expression filter, or served SQL.

Two registration paths:

* ``register_udf``        - row-at-a-time Python UDF. Simple, but crosses
                            the JVM<->Python boundary per row: the SLOW
                            path, for logic that truly can't vectorize.
* ``register_pandas_udf`` - Arrow-batched vectorized UDF (10-100x faster;
                            the only acceptable Python hot path at scale).

Registered functions live in the session catalog for the session's
lifetime; ``spark.catalog.functionExists(name)`` is how a caller asks
whether one is there (``examples/contract.py::ensure_udfs`` does).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import SparkSession

from .macros import MACROS, expand_macros


def register_udf(spark: SparkSession, name: str, fn: Callable[..., Any],
                 return_type: str) -> None:
    """Register a row-at-a-time Python UDF under ``name``."""
    from pyspark.sql.functions import udf
    spark.udf.register(name, udf(fn, return_type))


def register_pandas_udf(spark: SparkSession, name: str,
                        fn: Callable[..., Any], return_type: str) -> None:
    """Register an Arrow-batched (vectorized) pandas UDF under ``name``.
    ``fn`` takes/returns pandas Series."""
    from pyspark.sql.functions import pandas_udf
    spark.udf.register(name, pandas_udf(fn, return_type))


__all__ = ["register_udf", "register_pandas_udf", "expand_macros", "MACROS"]
