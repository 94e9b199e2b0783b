"""Presto functions whose one implementation is a Spark SQL template.

Each ``SQL_TEMPLATES`` entry is Spark SQL text over positional
placeholders ``{0}``, ``{1}``, ...  Both APIs use the same text:

  - the SQL dialect (``dialect.translate``) inlines
    ``template.format(*args)`` at every call of the name;
  - the DataFrame API (``P.<name>``) calls the temporary SQL function
    ``__presto_<name>``, whose parameters are the Presto signature in
    ``SIGNATURES`` and whose body is the template over them.  Spark
    inlines the body into the plan, so no Python runs per row.

The function is created in ``SparkSession.active()`` the first time a
builder runs there (``_util.session_fn``): creating all of them up front
would cost seconds per session.  Builder arguments follow one rule: a
Column passes through, a ``str`` in the first position is a column name,
anything else is a literal.  Like the geo session functions, a builder
cannot take a lambda variable as an argument.

Templates without a signature have no session function: ``arbitrary``
is an aggregate and ``array_min``/``array_max`` are polymorphic, so their
Column builders (aggregates_reg.py, arrays.py) restate the template's
semantics; the reference test harness's helpers are SQL-only.

Reference: presto-main/.../metadata/FunctionRegistry.java registers each
scalar function once; the comments below cite each implementation.
"""

from __future__ import annotations

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
    # (checksum routes through dialect._parity_agg_compat: the bit-exact
    # ChecksumAggregationFunction parity UDAF when unmixed, else the
    # documented md5-XOR convention — _native_checksum)
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
    # it reads the same under Engine.sql's raw literals and the default
    # parser that creates the session function
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


# presto name -> (parameter types, return type) of its session function
_BIN, _BIG, _DBL, _STR = "binary", "bigint", "double", "string"
SIGNATURES = {
    "to_base64": ([_BIN], _STR),
    "from_base64": ([_STR], _BIN),
    "to_base64url": ([_BIN], _STR),
    "from_base64url": ([_STR], _BIN),
    "to_hex": ([_BIN], _STR),
    "from_hex": ([_STR], _BIN),
    "url_extract_parameter": ([_STR, _STR], _STR),
    "year_of_week": (["date"], _BIG),
    "yow": (["date"], _BIG),
    "bitwise_and": ([_BIG, _BIG], _BIG),
    "bitwise_or": ([_BIG, _BIG], _BIG),
    "bitwise_xor": ([_BIG, _BIG], _BIG),
    "bitwise_not": ([_BIG], _BIG),
    "infinity": ([], _DBL),
    "nan": ([], _DBL),
    "to_utf8": ([_STR], _BIN),
    "hamming_distance": ([_STR, _STR], _BIG),
    "to_base": ([_BIG, _BIG], _STR),
    "from_base": ([_STR, _BIG], _BIG),
    "codepoint": ([_STR], "int"),
    "index": ([_STR, _STR], _BIG),
    "char2hexint": ([_STR], _STR),
    "parse_duration": ([_STR], _DBL),
    "to_milliseconds": ([_DBL], _BIG),
    "normal_cdf": ([_DBL, _DBL, _DBL], _DBL),
    "inverse_normal_cdf": ([_DBL, _DBL, _DBL], _DBL),
    "wilson_interval_lower": ([_BIG, _BIG, _DBL], _DBL),
    "wilson_interval_upper": ([_BIG, _BIG, _DBL], _DBL),
    "is_infinite": ([_DBL], "boolean"),
    "is_nan": ([_DBL], "boolean"),
    "is_finite": ([_DBL], "boolean"),
    "from_big_endian_64": ([_BIN], _BIG),
    "to_big_endian_64": ([_BIG], _BIN),
    "from_big_endian_32": ([_BIN], "int"),
    "to_big_endian_32": (["int"], _BIN),
    "from_ieee754_64": ([_BIN], _DBL),
    "to_ieee754_64": ([_DBL], _BIN),
    "from_ieee754_32": ([_BIN], "float"),
    "to_ieee754_32": (["float"], _BIN),
}


def _builder(name: str, types: list[str], returns: str):
    params = [f"x{i}" for i in range(len(types))]
    decl = ", ".join(f"{p} {t}" for p, t in zip(params, types))

    def build(*args) -> Column:
        return session_fn(
            "__presto_", name, decl, returns,
            lambda: SQL_TEMPLATES[name].format(*params),
            # a str first argument reaches session_fn, which reads it as a name
            *(a if i == 0 and isinstance(a, str) else lit_or_col(a)
              for i, a in enumerate(args)),
        )

    build.__name__ = build.__qualname__ = name
    build.__doc__ = f"Presto {name}({', '.join(types)}) -> {returns}: {SQL_TEMPLATES[name]}"
    return build


for _name, (_types, _returns) in SIGNATURES.items():
    register(_name)(_builder(_name, _types, _returns))
