"""Teradata-compat functions (presto-teradata-functions plugin:
TeradataStringFunctions.java, TeradataDateFunctions.java)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from prestodb_presto_spark.functions import register
from prestodb_presto_spark.functions._util import c

# Teradata to_char/to_date use Oracle-style patterns; the common tokens
# map 1:1 onto Java's after case fixing.
_ORACLE_TOKENS = {
    "YYYY": "yyyy", "YY": "yy", "MM": "MM", "DD": "dd",
    "HH24": "HH", "HH": "hh", "MI": "mm", "SS": "ss",
}


def _oracle_to_java(fmt: str) -> str:
    out = fmt
    for tok in sorted(_ORACLE_TOKENS, key=len, reverse=True):
        out = out.replace(tok, _ORACLE_TOKENS[tok])
    return out


@register("to_char")
def to_char(ts, fmt: str) -> Column:
    return F.date_format(c(ts), _oracle_to_java(fmt))


@register("to_date_td")
def to_date_td(s, fmt: str) -> Column:
    return F.to_date(c(s), _oracle_to_java(fmt))


@register("to_timestamp_td")
def to_timestamp_td(s, fmt: str) -> Column:
    return F.to_timestamp(c(s), _oracle_to_java(fmt))


# The reference's Teradata plugin registers these under their bare names
# (TeradataDateFunctions.java: to_date / to_timestamp); the _td spellings
# above predate the alias and remain for compatibility.
register("to_date")(to_date_td)
register("to_timestamp")(to_timestamp_td)
