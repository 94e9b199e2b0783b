"""Presto functions whose one implementation is the dialect's SQL.

``SQL_TEMPLATES`` holds Spark SQL text over positional placeholders
``{0}``, ``{1}``, ...; ``dialect.translate`` inlines
``template.format(*args)`` at every call of the name.  Other names have a
call rewrite in the dialect instead.

Each ``SIGNATURES`` row gives one Presto signature, ``(name, parameter
types, return type)``, of a name whose translation depends only on the
number of its arguments and on its literal parameters.  The DataFrame API
(``P.<name>``) calls the temporary SQL function
``__presto_<name>_<arity>``, whose parameters are that signature and
whose body is ``translate()`` of ``name(x0, ...)``: by construction the
text ``Engine.sql`` runs for the call.  Spark inlines the body into the
plan, so no Python runs per row (normalize and from_utf8 call the same
pandas UDFs as ``Engine.sql``).

The function is created in ``SparkSession.active()`` the first time a
builder runs there (``_util.session_fn``), with raw string literals as
``Engine.sql`` parses them: creating all of them up front would cost
seconds per session.  Builder arguments follow one rule: a Column passes
through, a ``str`` in the first operand position is a column name,
anything else is a literal.  Like the geo session functions, a builder
cannot take a lambda variable as an argument.

A parameter whose literal the rewrite reads (a unit, pattern, width,
needle, form or replacement) is ``_LIT`` (``_WORD`` for a bare keyword):
the builder spells the Python value into the call text, and a stable
digest of it goes into the function name, one function per value as geo
has one ``__presto_geo_relate_<pattern>`` per pattern.  A Column there
raises ``TypeError``.  Names whose types are polymorphic
(``greatest``/``least``, ``array_min``/``array_max`` and the other
``array_*``/``map_*`` functions) keep a Column builder of their own, as
do the aggregate ``arbitrary`` and ``date_add``, whose result type
follows its input; the reference test harness's helpers are SQL-only.

Reference: presto-main/.../metadata/FunctionRegistry.java registers each
scalar function once; the comments below cite each implementation.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column

from prestodb_presto_spark.functions import register
from prestodb_presto_spark.functions._util import lit_or_col, session_fn

# regex \s spelled as the characters it matches (space, \t, \n, \v, \f, \r)
_WS = "[ \t\n\x0b\f\r]*"
_DURATION_RE = f"'^{_WS}([0-9]*[.]?[0-9]+){_WS}([a-z]+){_WS}$'"

# presto name -> python format with {0}, {1}, ... placeholders
SQL_TEMPLATES = {
    "to_base64": "base64({0})",
    "from_base64": "unbase64({0})",
    "to_base64url": "translate(base64({0}), '+/', '-_')",
    "from_base64url": "unbase64(translate({0}, '-_', '+/'))",
    "to_hex": "upper(hex({0}))",
    "from_hex": "unhex({0})",
    # UrlFunctions.urlExtractParameter: FIRST occurrence wins and a
    # valueless key ('...&k3&...') returns '' (Spark's parse_url
    # key-lookup returns NULL for both); scan the query params in order
    "url_extract_parameter":
        "(CASE WHEN try_element_at(filter(split(parse_url({0}, 'QUERY'), '&'),"
        " p -> split_part(p, '=', 1) = {1}), 1) IS NULL THEN NULL"
        " WHEN locate('=', try_element_at(filter(split(parse_url({0}, 'QUERY'),"
        " '&'), p -> split_part(p, '=', 1) = {1}), 1)) = 0 THEN ''"
        " ELSE substring(try_element_at(filter(split(parse_url({0}, 'QUERY'),"
        " '&'), p -> split_part(p, '=', 1) = {1}), 1),"
        " locate('=', try_element_at(filter(split(parse_url({0}, 'QUERY'),"
        " '&'), p -> split_part(p, '=', 1) = {1}), 1)) + 1) END)",
    # (typeof handled by dialect._typeof_spelling_compat — a context-aware
    # pass so its own expansion's inner typeof is not re-expanded on
    # re-translation, keeping translate() idempotent)
    "year_of_week": "extract(YEAROFWEEK FROM {0})",
    "yow": "extract(YEAROFWEEK FROM {0})",
    # DateTimeFunctions.java field extractors return BIGINT (Spark's
    # year(), hour(), ... return INT); week is the ISO week and
    # day_of_week the ISO day, Monday = 1; second drops the fraction.
    # bigint() rather than CAST, which the dialect's CAST pass would
    # rewrite again in a second translation
    **{
        name: f"bigint(extract({field} FROM {{0}}))"
        for field, names in {
            "YEAR": ("year",), "QUARTER": ("quarter",), "MONTH": ("month",),
            "WEEK": ("week", "week_of_year"), "DAY": ("day", "day_of_month"),
            "DAYOFWEEK_ISO": ("day_of_week", "dow"), "DOY": ("day_of_year", "doy"),
            "HOUR": ("hour",), "MINUTE": ("minute",),
        }.items()
        for name in names
    },
    "second": "bigint(date_part('SECOND', {0}))",
    "last_day_of_month": "last_day({0})",
    # DOUBLE seconds with the fraction (unix_timestamp truncates to BIGINT)
    "to_unixtime": "CAST(CAST({0} AS TIMESTAMP) AS DOUBLE)",
    # the T as a separator: a quoted 'T' would need '' in the literal,
    # which Engine.sql's raw literals keep as two quotes
    "to_iso8601": "translate(date_format({0}, 'yyyy-MM-dd HH:mm:ss.SSSXXX'), ' ', 'T')",
    "from_iso8601_timestamp": "to_timestamp({0})",
    "from_iso8601_date": "to_date({0})",
    # Joda patterns read as Java ones for the common tokens
    "format_datetime": "date_format({0}, {1})",
    "parse_datetime": "to_timestamp_ltz({0}, {1})",
    # the same instant shown in another zone; `x AT TIME ZONE z` is this
    # call (Spark has no TIMESTAMP WITH TIME ZONE to carry the zone)
    "at_timezone": "from_utc_timestamp(to_utc_timestamp({0}, 'UTC'), {1})",
    "bitwise_and": "(({0}) & ({1}))",
    "bitwise_or": "(({0}) | ({1}))",
    "bitwise_xor": "(({0}) ^ ({1}))",
    "bitwise_not": "(~({0}))",
    "infinity": "CAST('Infinity' AS DOUBLE)",
    "nan": "CAST('NaN' AS DOUBLE)",
    "to_utf8": "encode({0}, 'UTF-8')",
    "hamming_distance":
        "(CASE WHEN length({0}) <> length({1})"
        " THEN CAST(raise_error('the input strings must have the same length') AS BIGINT)"
        " ELSE CAST(size(filter(zip_with(split({0}, ''), split({1}, ''),"
        " (__x, __y) -> __x <> __y), __t -> __t)) AS BIGINT) END)",
    "to_base":
        "(CASE WHEN ({0}) < 0 THEN concat('-', lower(conv(-({0}), 10, {1})))"
        " ELSE lower(conv({0}, 10, {1})) END)",
    "from_base":
        "(CASE WHEN substr({0}, 1, 1) = '-'"
        " THEN CAST(CAST(conv(substr({0}, 2), {1}, 10) AS DECIMAL(20,0)) * -1 AS BIGINT)"
        " ELSE CAST(conv({0}, {1}, 10) AS BIGINT) END)",
    "codepoint": "ascii({0})",
    # presto-teradata-functions (TeradataStringFunctions.java): INDEX is
    # 1-based locate (0 = absent); CHAR2HEXINT is the UTF-16BE hex of
    # the string, uppercase
    "index": "CAST(locate({1}, {0}) AS BIGINT)",
    "char2hexint": "upper(hex(encode({0}, 'UTF-16BE')))",
    # arbitrary skips NULLs (ArbitraryAggregationFunction @SqlNullable
    # combine keeps the first non-null); Spark any_value defaults to
    # respecting them
    "arbitrary": "any_value({0}, true)",
    # (checksum routes through dialect._parity_agg_compat to the bit-exact
    # ChecksumAggregationFunction native plan — hll.checksum_sql)
    # the reference test harness's custom scalar functions — semantics
    # from their sources (presto-main test CustomFunctions.java,
    # TestIsNullAnnotation.java): custom_add, IS NULL probes, and the
    # @IsNull-annotation concat (a null non-@SqlNullable arg => NULL)
    # ArrayFunctions.java: array_min/max return NULL when ANY element
    # is NULL (Spark's skip nulls)
    "array_min":
        "(CASE WHEN exists({0}, __e -> __e IS NULL) THEN NULL"
        " ELSE array_min({0}) END)",
    "array_max":
        "(CASE WHEN exists({0}, __e -> __e IS NULL) THEN NULL"
        " ELSE array_max({0}) END)",
    "custom_add": "(CAST({0} AS BIGINT) + CAST({1} AS BIGINT))",
    # TestInstanceFunction.java:40 (precomputed → 42),
    # TestBlockAndPositionNullConvention.java (identityFunction),
    # TestUnknownOperators.java:39 (null_function → unknown NULL)
    "identityFunction": "CAST({0} AS BIGINT)",
    "precomputed": "CAST(42 AS BIGINT)",
    "null_function": "NULL",
    "custom_is_null": "(({0}) IS NULL)",
    "test_is_null_simple": "(CASE WHEN ({0}) IS NULL THEN 100 ELSE 2 * ({0}) END)",
    "test_is_null":
        "(CASE WHEN ({1}) IS NULL THEN NULL ELSE"
        " concat(coalesce(CAST({0} AS STRING), ''), ':', {1}, ':',"
        " coalesce({2}, ''), ':', coalesce({3}, '')) END)",
    "test_is_null_void": "(({0}) IS NULL)",
    # duration scalars (DateTimeFunctions.parseDuration, airlift
    # Duration units ns/us/ms/s/m/h/d, whitespace allowed around both
    # parts): the engine's interval scalar representation is seconds as
    # DOUBLE; malformed text gives NULL.  The regex has no backslash, so
    # it reads the same under raw and escaped literals
    "parse_duration":
        f"(try_cast(regexp_extract({{0}}, {_DURATION_RE}, 1) AS DOUBLE)"
        f" * CASE regexp_extract({{0}}, {_DURATION_RE}, 2)"
        " WHEN 'ns' THEN 1e-9 WHEN 'us' THEN 1e-6 WHEN 'ms' THEN 1e-3"
        " WHEN 's' THEN 1e0 WHEN 'm' THEN 6e1 WHEN 'h' THEN 36e2"
        " WHEN 'd' THEN 864e2 END)",
    "to_milliseconds": "CAST(CAST({0} AS DOUBLE) * 1000 AS BIGINT)",
    # statistical scalars (MathFunctions.java normalCdf/inverseNormalCdf
    # use commons-math3 Erf — the same library Spark ships, reached via
    # try_reflect, so values are bit-exact and a NULL argument gives NULL
    # where reflect would raise; wilson* is pure arithmetic)
    "normal_cdf":
        "(0.5 * (1 + CAST(try_reflect('org.apache.commons.math3.special.Erf',"
        " 'erf', CAST((CAST({2} AS DOUBLE) - CAST({0} AS DOUBLE))"
        " / (CAST({1} AS DOUBLE) * 1.4142135623730951) AS DOUBLE))"
        " AS DOUBLE)))",
    "inverse_normal_cdf":
        "(CAST({0} AS DOUBLE) + CAST({1} AS DOUBLE) * 1.4142135623730951"
        " * CAST(try_reflect('org.apache.commons.math3.special.Erf', 'erfInv',"
        " CAST(2 * CAST({2} AS DOUBLE) - 1 AS DOUBLE)) AS DOUBLE))",
    "wilson_interval_lower":
        "(((CAST({0} AS DOUBLE)/CAST({1} AS DOUBLE))"
        " + ({2})*({2})/(2*CAST({1} AS DOUBLE))"
        " - ({2}) * sqrt((CAST({0} AS DOUBLE)/CAST({1} AS DOUBLE))"
        "   * (1 - CAST({0} AS DOUBLE)/CAST({1} AS DOUBLE))/CAST({1} AS DOUBLE)"
        "   + ({2})*({2})/(4.0*CAST({1} AS DOUBLE)*CAST({1} AS DOUBLE))))"
        " / (1 + ({2})*({2})/CAST({1} AS DOUBLE)))",
    "wilson_interval_upper":
        "(((CAST({0} AS DOUBLE)/CAST({1} AS DOUBLE))"
        " + ({2})*({2})/(2*CAST({1} AS DOUBLE))"
        " + ({2}) * sqrt((CAST({0} AS DOUBLE)/CAST({1} AS DOUBLE))"
        "   * (1 - CAST({0} AS DOUBLE)/CAST({1} AS DOUBLE))/CAST({1} AS DOUBLE)"
        "   + ({2})*({2})/(4.0*CAST({1} AS DOUBLE)*CAST({1} AS DOUBLE))))"
        " / (1 + ({2})*({2})/CAST({1} AS DOUBLE)))",
    # reference test-harness varbinary→varchar helper (TestJsonExtract)
    "utf8": "decode({0}, 'UTF-8')",
    "is_infinite": "(CASE WHEN {0} IS NULL THEN NULL ELSE"
                   " abs(CAST({0} AS DOUBLE)) = CAST('Infinity' AS DOUBLE) END)",
    "is_nan": "(CASE WHEN {0} IS NULL THEN NULL ELSE isnan(CAST({0} AS DOUBLE)) END)",
    "is_finite": "(CASE WHEN {0} IS NULL THEN NULL ELSE NOT isnan(CAST({0} AS DOUBLE))"
                 " AND abs(CAST({0} AS DOUBLE)) <> CAST('Infinity' AS DOUBLE) END)",
    # endian/IEEE754 casts (reference VarbinaryFunctions.java): signed
    # radix tricks via conv; bit<->float through the JVM's own converters
    # (try_reflect: NULL in, NULL out)
    "from_big_endian_64": "CAST(conv(hex({0}), 16, -10) AS BIGINT)",
    "to_big_endian_64": "unhex(lpad(conv({0}, 10, 16), 16, '0'))",
    "from_big_endian_32":
        "CAST(CAST(conv(hex({0}), 16, 10) AS BIGINT)"
        " - (CASE WHEN CAST(conv(hex({0}), 16, 10) AS BIGINT) >= 2147483648"
        " THEN 4294967296 ELSE 0 END) AS INT)",
    "to_big_endian_32": "unhex(lpad(conv(CAST({0} AS BIGINT) & 4294967295, 10, 16), 8, '0'))",
    "from_ieee754_64":
        "CAST(try_reflect('java.lang.Double', 'longBitsToDouble',"
        " CAST(conv(hex({0}), 16, -10) AS BIGINT)) AS DOUBLE)",
    "to_ieee754_64":
        "unhex(lpad(conv(try_reflect('java.lang.Double', 'doubleToRawLongBits',"
        " CAST({0} AS DOUBLE)), 10, 16), 16, '0'))",
    "from_ieee754_32":
        "CAST(try_reflect('java.lang.Float', 'intBitsToFloat',"
        " CAST(CAST(conv(hex({0}), 16, 10) AS BIGINT)"
        " - (CASE WHEN CAST(conv(hex({0}), 16, 10) AS BIGINT) >= 2147483648"
        " THEN 4294967296 ELSE 0 END) AS INT)) AS FLOAT)",
    "to_ieee754_32":
        "unhex(lpad(conv(CAST(try_reflect('java.lang.Float', 'floatToRawIntBits',"
        " CAST({0} AS FLOAT)) AS BIGINT) & 4294967295, 10, 16), 8, '0'))",
}


# (presto name, parameter types, return type): one row per arity.  A
# _LIT parameter is a literal spelled into the body (a _WORD one a bare
# keyword), so each value has a function of its own
_LIT, _WORD = "literal", "keyword"
_BIN, _BIG, _DBL, _STR, _TS = "binary", "bigint", "double", "string", "timestamp"
_ARR, _DMAP = "array<string>", "map<string, double>"
SIGNATURES = [
    ("to_base64", [_BIN], _STR),
    ("from_base64", [_STR], _BIN),
    ("to_base64url", [_BIN], _STR),
    ("from_base64url", [_STR], _BIN),
    ("to_hex", [_BIN], _STR),
    ("from_hex", [_STR], _BIN),
    ("url_extract_parameter", [_STR, _STR], _STR),
    ("year_of_week", ["date"], _BIG),
    ("yow", ["date"], _BIG),
    ("bitwise_and", [_BIG, _BIG], _BIG),
    ("bitwise_or", [_BIG, _BIG], _BIG),
    ("bitwise_xor", [_BIG, _BIG], _BIG),
    ("bitwise_not", [_BIG], _BIG),
    ("infinity", [], _DBL),
    ("nan", [], _DBL),
    ("to_utf8", [_STR], _BIN),
    ("hamming_distance", [_STR, _STR], _BIG),
    ("to_base", [_BIG, _BIG], _STR),
    ("from_base", [_STR, _BIG], _BIG),
    ("codepoint", [_STR], "int"),
    ("index", [_STR, _STR], _BIG),
    ("char2hexint", [_STR], _STR),
    ("parse_duration", [_STR], _DBL),
    ("to_milliseconds", [_DBL], _BIG),
    ("normal_cdf", [_DBL, _DBL, _DBL], _DBL),
    ("inverse_normal_cdf", [_DBL, _DBL, _DBL], _DBL),
    ("wilson_interval_lower", [_BIG, _BIG, _DBL], _DBL),
    ("wilson_interval_upper", [_BIG, _BIG, _DBL], _DBL),
    ("is_infinite", [_DBL], "boolean"),
    ("is_nan", [_DBL], "boolean"),
    ("is_finite", [_DBL], "boolean"),
    ("from_big_endian_64", [_BIN], _BIG),
    ("to_big_endian_64", [_BIG], _BIN),
    ("from_big_endian_32", [_BIN], "int"),
    ("to_big_endian_32", ["int"], _BIN),
    ("from_ieee754_64", [_BIN], _DBL),
    ("to_ieee754_64", [_DBL], _BIN),
    ("from_ieee754_32", [_BIN], "float"),
    ("to_ieee754_32", ["float"], _BIN),
    # StringFunctions.java
    ("split", [_STR, _STR], _ARR),
    ("split", [_STR, _STR, _BIG], _ARR),
    ("split_part", [_STR, _STR, _BIG], _STR),
    ("replace", [_STR, _STR], _STR),
    ("replace", [_STR, _STR, _STR], _STR),
    ("chr", [_BIG], _STR),
    ("trim", [_STR], _STR),
    ("trim", [_STR, _STR], _STR),
    ("ltrim", [_STR], _STR),
    ("ltrim", [_STR, _STR], _STR),
    ("rtrim", [_STR], _STR),
    ("rtrim", [_STR, _STR], _STR),
    ("substr", [_STR, _BIG], _STR),
    ("substr", [_STR, _BIG, _BIG], _STR),
    ("split_to_map", [_STR, _STR, _STR], "map<string, string>"),
    ("split_to_multimap", [_STR, _STR, _STR], f"map<string, {_ARR}>"),
    # MathFunctions.java
    ("truncate", [_DBL], _DBL),
    ("truncate", [_DBL, "int"], _DBL),
    ("width_bucket", [_DBL, "array<double>"], _BIG),
    ("width_bucket", [_DBL, _DBL, _DBL, _BIG], _BIG),
    ("cosine_similarity", [_DMAP, _DMAP], _DBL),
    # JsonFunctions.java
    ("json_array_get", [_STR, _BIG], _STR),
    ("is_json_scalar", [_STR], "boolean"),
    # JoniRegexpFunctions.java
    ("regexp_extract", [_STR, _STR], _STR),
    ("regexp_extract", [_STR, _STR, "int"], _STR),
    ("regexp_extract_all", [_STR, _STR], _ARR),
    ("regexp_extract_all", [_STR, _STR, "int"], _ARR),
    ("regexp_split", [_STR, _LIT], _ARR),
    # BitwiseFunctions.java, JsonFunctions.java, StringFunctions.java
    ("bit_count", [_BIG, _LIT], _BIG),
    ("json_array_contains", [_STR, _LIT], "boolean"),
    ("normalize", [_STR], _STR),
    ("normalize", [_STR, _WORD], _STR),
    ("from_utf8", [_BIN], _STR),
    ("from_utf8", [_BIN, _LIT], _STR),
    # DateTimeFunctions.java
    ("date_diff", [_LIT, _TS, _TS], _BIG),
    ("date_trunc", [_LIT, _TS], _TS),
    ("date_format", [_TS, _LIT], _STR),
    ("date_parse", [_STR, _LIT], _TS),
    ("format_datetime", [_TS, _LIT], _STR),
    ("parse_datetime", [_STR, _LIT], _TS),
    ("from_unixtime", [_DBL], _TS),
    ("to_unixtime", [_TS], _DBL),
    ("from_iso8601_timestamp", [_STR], _TS),
    ("from_iso8601_date", [_STR], "date"),
    ("to_iso8601", [_TS], _STR),
    *((name, [_TS], _BIG) for name in (
        "year", "quarter", "month", "week", "week_of_year", "day", "day_of_month",
        "day_of_week", "dow", "day_of_year", "doy", "hour", "minute", "second",
    )),
    ("last_day_of_month", [_TS], "date"),
    ("at_timezone", [_TS, _STR], _TS),
    ("timezone_hour", [_TS], _BIG),
    ("timezone_minute", [_TS], _BIG),
    ("date", [_TS], "date"),
    # TeradataDateFunctions.java
    ("to_char", [_TS, _LIT], _STR),
    ("to_date", [_STR, _LIT], "date"),
    ("to_timestamp", [_STR, _LIT], _TS),
]


def _body(name: str, args: list[str]) -> str:
    """What Engine.sql runs for ``name(args)``."""
    from prestodb_presto_spark.dialect import translate  # dialect imports this module

    return translate(f"SELECT {name}({', '.join(args)})").removeprefix("SELECT ")


def _spell(kind: str, value) -> str:
    """A literal argument as Presto text."""
    if kind == _WORD:
        if not re.fullmatch(r"[A-Za-z]\w*", value):
            raise ValueError(f"not a keyword: {value!r}")
        return value
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, str):
        return "'" + value.replace("'", "''") + "'"
    return repr(value)


def _builder(name: str, overloads: dict[int, tuple[list[str], str]]):
    def build(*args) -> Column:
        if len(args) not in overloads:
            raise TypeError(f"{name} takes {' or '.join(map(str, overloads))} arguments")
        types, returns = overloads[len(args)]
        spelled, params, cols = [], [], []
        for i, (a, t) in enumerate(zip(args, types)):
            if t in (_LIT, _WORD):
                if isinstance(a, Column):
                    raise TypeError(f"{name} argument {i + 1} is a literal, not a Column")
                spelled.append(_spell(t, a))
                continue
            spelled.append(f"x{i}")
            params.append(f"x{i} {t}")
            # a str first operand reaches session_fn, which reads it as a name
            cols.append(a if not cols and isinstance(a, str) else lit_or_col(a))
        lits = [s for s, t in zip(spelled, types) if t in (_LIT, _WORD)]
        digest = hashlib.sha1("\0".join(lits).encode()).hexdigest()[:12]
        return session_fn(
            "__presto_", f"{name}_{len(args)}" + (f"_{digest}" if lits else ""),
            ", ".join(params), returns, lambda: _body(name, spelled), *cols,
        )

    build.__name__ = build.__qualname__ = name
    build.__doc__ = "Presto " + "; ".join(
        f"{name}({', '.join(types)}) -> {returns}" for types, returns in overloads.values()
    )
    return build


_overloads: dict[str, dict[int, tuple[list[str], str]]] = {}
for _name, _types, _returns in SIGNATURES:
    _overloads.setdefault(_name, {})[len(_types)] = (_types, _returns)
for _name, _by_arity in _overloads.items():
    register(_name)(_builder(_name, _by_arity))
