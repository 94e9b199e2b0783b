"""Date/time functions — reference operator/scalar/DateTimeFunctions.java.

The two headline dialect translations (SURVEY.md §7 risk #2):
  - Presto date_add('unit', n, ts) / date_diff('unit', a, b) vs Spark's
    date_add(date, days) — the registry OWNS the Presto signature.
  - date_format/date_parse use MySQL %-patterns — translated token by
    token to Spark's (Java) patterns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from prestodb_presto_spark.functions import register
from prestodb_presto_spark.functions._util import c, lit_or_col

_UNITS = {
    "millisecond": "INTERVAL '0.001' SECOND",
    "second": "INTERVAL 1 SECOND",
    "minute": "INTERVAL 1 MINUTE",
    "hour": "INTERVAL 1 HOUR",
    "day": "INTERVAL 1 DAY",
    "week": "INTERVAL 7 DAY",
    "month": "INTERVAL 1 MONTH",
    "quarter": "INTERVAL 3 MONTH",
    "year": "INTERVAL 1 YEAR",
}


@register("date_add")
def date_add(unit: str, n, ts) -> Column:
    """Presto: date_add(unit, value, timestamp) — NOT Spark's date_add."""
    unit = unit.lower()
    if unit not in _UNITS:
        raise ValueError(f"unknown unit {unit}")
    return c(ts) + lit_or_col(n) * F.expr(_UNITS[unit])


@register("date_diff")
def date_diff(unit: str, a, b) -> Column:
    """Presto: date_diff(unit, ts1, ts2) = count of unit boundaries ts2-ts1."""
    unit = unit.lower()
    # TIMESTAMP_NTZ can't cast straight to long; session TZ is pinned UTC
    # so routing through TIMESTAMP is value-preserving.
    ca, cb = c(a).cast("timestamp"), c(b).cast("timestamp")
    if unit in ("second", "minute", "hour", "day", "week"):
        secs = {"second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800}[unit]
        return ((cb.cast("long") - ca.cast("long")) / secs).cast("long")
    if unit == "millisecond":
        return (
            (cb.cast("double") - ca.cast("double")) * 1000
        ).cast("long")
    # month/quarter/year: full elapsed units (reference
    # DateTimeFunctions.diffTimestamp → chronology field difference), so
    # date_diff('year', '2020-12-31', '2021-01-01') = 0, and negative
    # diffs truncate toward zero (cast, not floor).
    if unit == "month":
        return F.months_between(cb, ca).cast("long")
    if unit == "quarter":
        return (F.months_between(cb, ca) / 3).cast("long")
    if unit == "year":
        return (F.months_between(cb, ca) / 12).cast("long")
    raise ValueError(f"unknown unit {unit}")


@register("date_trunc")
def date_trunc(unit: str, ts) -> Column:
    return F.date_trunc(unit, c(ts))


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


@register("date_format")
def date_format(ts, fmt: str) -> Column:
    """MySQL-pattern formatter (Presto) → Spark date_format w/ Java pattern."""
    return F.date_format(c(ts), _mysql_to_java(fmt))


@register("date_parse")
def date_parse(s, fmt: str) -> Column:
    return F.to_timestamp(c(s), _mysql_to_java(fmt))


@register("format_datetime")
def format_datetime(ts, fmt: str) -> Column:
    """Joda pattern (≈ Java pattern for the common tokens)."""
    return F.date_format(c(ts), fmt)


@register("parse_datetime")
def parse_datetime(s, fmt: str) -> Column:
    return F.to_timestamp(c(s), fmt)


@register("from_unixtime")
def from_unixtime(x) -> Column:
    return F.timestamp_seconds(c(x))


@register("to_unixtime")
def to_unixtime(ts) -> Column:
    return c(ts).cast("timestamp").cast("double")


@register("from_iso8601_timestamp")
def from_iso8601_timestamp(s) -> Column:
    return F.to_timestamp(c(s))


@register("from_iso8601_date")
def from_iso8601_date(s) -> Column:
    return F.to_date(c(s))


@register("to_iso8601")
def to_iso8601(ts) -> Column:
    return F.date_format(c(ts), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")


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


for _name, _fn in {
    "year": F.year,
    "month": F.month,
    "day": F.dayofmonth,
    "day_of_month": F.dayofmonth,
    "hour": F.hour,
    "minute": F.minute,
    "second": F.second,
    "quarter": F.quarter,
    "week": F.weekofyear,
    "week_of_year": F.weekofyear,
    "day_of_year": F.dayofyear,
    "doy": F.dayofyear,
}.items():
    register(_name)(lambda x, _f=_fn: _f(c(x)).cast("bigint"))


@register("day_of_week")
def day_of_week(x) -> Column:
    """ISO day-of-week 1=Monday..7=Sunday (Presto dow is ISO)."""
    return (((F.dayofweek(c(x)) + 5) % 7) + 1).cast("bigint")


@register("dow")
def dow(x) -> Column:
    return day_of_week(x)


@register("last_day_of_month")
def last_day_of_month(x) -> Column:
    return F.last_day(c(x))


@register("at_timezone")
def at_timezone(ts, tz) -> Column:
    """Presto AT TIME ZONE: same instant, different display zone — Spark's
    session-TZ model expresses it as from_utc_timestamp on the UTC instant."""
    return F.from_utc_timestamp(F.to_utc_timestamp(c(ts), "UTC"), tz)


def _session_offset_seconds(col: Column) -> Column:
    """UTC offset of the SESSION zone at the column's instant (the
    engine default pins UTC → 0; a session that overrides
    spark.sql.session.timeZone gets that zone's offset)."""
    col = col.cast("timestamp")  # NTZ values don't shift under from_utc_timestamp
    return F.unix_timestamp(
        F.from_utc_timestamp(col, F.expr("current_timezone()"))
    ) - F.unix_timestamp(col)


@register("timezone_hour")
def timezone_hour(ts) -> Column:
    return (_session_offset_seconds(c(ts)) / 3600).cast("bigint")


@register("timezone_minute")
def timezone_minute(ts) -> Column:
    return ((_session_offset_seconds(c(ts)) % 3600) / 60).cast("bigint")


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


@register("date")
def date_(x) -> Column:
    """date(x) → DATE (DateTimeFunctions / DateOperators cast twin)."""
    return c(x).cast("date")
