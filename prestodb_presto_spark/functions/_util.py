from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


def c(x) -> Column:
    """Accept a Column or a column name."""
    return x if isinstance(x, Column) else F.col(x)


def lit_or_col(x) -> Column:
    """Accept a Column, or a Python literal."""
    return x if isinstance(x, Column) else F.lit(x)


@contextmanager
def session_conf(spark: SparkSession, key: str, value: str):
    """Set one session conf inside the block; the previous value comes
    back after, also when the block raises."""
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def presto_literals(spark: SparkSession):
    """Parse SQL text with Presto's raw string literals.

    Presto string literals have no backslash escapes (the presto-parser
    grammar's only escape is '').  Spark processes \\n, \\u… by default,
    silently corrupting regex patterns like '\\d{3}'.  Inside this block
    the session parses under spark.sql.parser.escapedStringLiterals=true
    (the Hive-compatible raw mode); the previous value comes back after."""
    return session_conf(spark, "spark.sql.parser.escapedStringLiterals", "true")


def session_fn(
    prefix: str, name: str, params: str, returns: str, body: Callable[[], str], *args
) -> Column:
    """Call the session SQL function ``<prefix><name>``, creating it in
    the active session on first use from ``body()`` — one flat SQL string
    whose free names are the declared ``params``.  The body parses with
    raw literals (``presto_literals``), as ``Engine.sql`` parses its
    text; Spark fixes the mode when the function is created.  Arguments
    that are not Columns are column names.  What the body calls is
    created first (``sql_support.ensure``)."""
    from prestodb_presto_spark.functions.sql_support import create, ensure

    fn = f"{prefix}{name}"
    spark = SparkSession.active()
    if not spark.catalog.functionExists(fn):
        text = body()
        ensure(spark, text)
        with presto_literals(spark):
            create(spark, fn, params, returns, text, {})
    return F.call_function(fn, *(c(a) for a in args))
