"""Date/time functions — reference operator/scalar/DateTimeFunctions.java.

The datetime names a Presto statement can spell are signature rows in
``functions/templates.py``: ``P.<name>`` runs the dialect's translation,
with the unit or pattern literals spelled into it.  What stays here:

  - the MySQL %-pattern mapper (``_mysql_to_java``) the dialect uses for
    date_format/date_parse;
  - date_add, whose result type follows its input (a DATE stays a DATE),
    so it cannot be one typed session function; the dialect spells the
    same interval from ``_UNITS``;
  - the zero-argument clock names and the TIME-convention helpers, which
    have no dialect twin.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

from prestodb_presto_spark.functions import register
from prestodb_presto_spark.functions._util import c, lit_or_col

# date_add unit -> (one-field interval, count of that field per unit): a
# DATE plus a DAY, MONTH or YEAR interval stays a DATE
# (DateTimeFunctions.addFieldValueDate)
_UNITS = {
    "millisecond": ("SECOND", "0.001"),
    "second": ("SECOND", "1"),
    "minute": ("MINUTE", "1"),
    "hour": ("HOUR", "1"),
    "day": ("DAY", "1"),
    "week": ("DAY", "7"),
    "month": ("MONTH", "1"),
    "quarter": ("MONTH", "3"),
    "year": ("YEAR", "1"),
}


def interval_sql(unit: str, n: str) -> str:
    """SQL text of ``n`` (SQL text) ``unit``s as an interval."""
    field, k = _UNITS[unit]
    return f"CAST({n if k == '1' else f'({n}) * {k}'} AS INTERVAL {field})"


@register("date_add")
def date_add(unit: str, n, ts) -> Column:
    """Presto: date_add(unit, value, timestamp) — NOT Spark's date_add."""
    unit = unit.lower()
    if unit not in _UNITS:
        raise ValueError(f"unknown unit {unit}")
    field, k = _UNITS[unit]
    step = lit_or_col(n) if k == "1" else lit_or_col(n) * F.lit(Decimal(k))
    return c(ts) + step.cast(f"interval {field}")


# MySQL %-pattern → Java/Spark datetime pattern (DateTimeFunctions.java
# uses a joda DateTimeFormatterBuilder from the same %-tokens)
_MYSQL_TOKENS = {
    "%a": "EEE", "%b": "MMM", "%c": "M", "%d": "dd", "%e": "d",
    "%f": "SSSSSS", "%H": "HH", "%h": "hh", "%I": "hh", "%i": "mm",
    "%j": "DDD", "%k": "H", "%l": "h", "%M": "MMMM", "%m": "MM",
    "%p": "a", "%r": "hh:mm:ss a", "%S": "ss", "%s": "ss",
    "%T": "HH:mm:ss", "%v": "ww", "%W": "EEEE", "%Y": "yyyy",
    "%y": "yy", "%%": "%",
}


def _mysql_to_java(fmt: str) -> str:
    out, i = [], 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            tok = fmt[i : i + 2]
            if tok not in _MYSQL_TOKENS:
                raise ValueError(f"unsupported date_format token {tok}")
            out.append(_MYSQL_TOKENS[tok])
            i += 2
        else:
            # literal char: quote letters so they aren't pattern tokens
            ch = fmt[i]
            out.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    return "".join(out)


@register("now")
def now() -> Column:
    return F.current_timestamp()


@register("current_date")
def current_date() -> Column:
    return F.current_date()


@register("current_timestamp")
def current_timestamp() -> Column:
    return F.current_timestamp()


@register("localtimestamp")
def localtimestamp() -> Column:
    return F.localtimestamp()


@register("current_timezone")
def current_timezone() -> Column:
    """Session zone (SessionFunctions.java currentTimeZone) — the
    engine default pins UTC; reads the live session conf."""
    return F.expr("current_timezone()")


@register("localtime")
def localtime():
    """Session-zone time-of-day as 'HH:mm:ss' (Spark has no TIME type;
    documented deviation — reference DateTimeFunctions.localTime)."""
    return F.date_format(F.current_timestamp(), "HH:mm:ss")


@register("current_time")
def current_time():
    """Session-zone TIME as 'HH:mm:ss' (no TIME type in Spark — same
    documented deviation as localtime)."""
    return F.date_format(F.current_timestamp(), "HH:mm:ss")


# --- TIME type convention (reference TypeRegistry.java:123-148) -------------
# Spark has no TIME type; the engine's documented convention is BIGINT
# millis-since-midnight (the reference's own internal representation —
# spi/type/TimeType.java stores millis in a long).  Comparison/ordering
# are then plain integer semantics, matching TIME comparisons.


@register("to_time")
def to_time(x) -> Column:
    """CAST(x AS TIME) under the millis-since-midnight convention:
    accepts 'HH:MM:SS[.mmm]' strings or timestamps (time-of-day part).
    Reference operator: TimeOperators.castFromSlice /
    TimestampOperators.castToTime."""
    col = c(x)
    from_ts = F.unix_millis(col.cast("timestamp")) % 86400000
    h = F.split(col, ":").getItem(0).cast("bigint")
    m = F.split(col, ":").getItem(1).cast("bigint")
    s = F.split(col, ":").getItem(2).cast("double")
    from_str = h * 3600000 + m * 60000 + F.floor(s * 1000).cast("bigint")
    is_str = col.cast("string").rlike(r"^\d{1,2}:\d{2}:\d{2}(\.\d+)?$")
    return F.when(is_str, from_str).otherwise(from_ts)


@register("time_hour")
def time_hour(t) -> Column:
    """hour(TIME) (DateTimeFunctions.hourFromTime)."""
    return F.floor(c(t) / 3600000).cast("bigint")


@register("time_minute")
def time_minute(t) -> Column:
    """minute(TIME) (DateTimeFunctions.minuteFromTime)."""
    return (F.floor(c(t) / 60000) % 60).cast("bigint")


@register("time_second")
def time_second(t) -> Column:
    """second(TIME) (DateTimeFunctions.secondFromTime)."""
    return (F.floor(c(t) / 1000) % 60).cast("bigint")


@register("time_millisecond")
def time_millisecond(t) -> Column:
    """millisecond(TIME) (DateTimeFunctions.millisecondFromTime)."""
    return (c(t) % 1000).cast("bigint")


@register("time_add")
def time_add(unit: str, n, t) -> Column:
    """date_add(unit, n, TIME) with 24h wraparound — reference
    DateTimeFunctions.addFieldValueTime applies modulo24Hour."""
    ms_per = {"millisecond": 1, "second": 1000, "minute": 60000, "hour": 3600000}[unit]
    return ((c(t) + lit_or_col(n) * ms_per) % 86400000 + 86400000) % 86400000


@register("time_to_varchar")
def time_to_varchar(t) -> Column:
    """CAST(TIME AS VARCHAR) → 'HH:MM:SS.mmm'
    (TimeOperators.castToSlice prints millis always)."""
    tt = c(t)
    pad = lambda col, n: F.lpad(col.cast("string"), n, "0")  # noqa: E731
    return F.concat(
        pad(time_hour(tt), 2), F.lit(":"),
        pad(time_minute(tt), 2), F.lit(":"),
        pad(time_second(tt), 2), F.lit("."),
        pad(time_millisecond(tt), 3),
    )
