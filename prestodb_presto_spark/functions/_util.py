from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


def c(x) -> Column:
    """Accept a Column or a column name."""
    return x if isinstance(x, Column) else F.col(x)


def lit_or_col(x) -> Column:
    """Accept a Column, or a Python literal."""
    return x if isinstance(x, Column) else F.lit(x)


def session_fn(
    prefix: str, name: str, params: str, returns: str, body: Callable[[], str], *args
) -> Column:
    """Call the session SQL function ``<prefix><name>``, creating it in
    the active session on first use from ``body()`` — one flat SQL string
    whose free names are the declared ``params``.  Arguments that are not
    Columns are column names."""
    fn = f"{prefix}{name}"
    spark = SparkSession.active()
    if not spark.catalog.functionExists(fn):
        # OR REPLACE: two threads may both find it missing; same body
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {fn}({params})"
            f" RETURNS {returns} RETURN {body()}"
        )
    return F.call_function(fn, *(c(a) for a in args))
