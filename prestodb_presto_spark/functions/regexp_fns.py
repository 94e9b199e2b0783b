"""Regex functions — reference JoniRegexpFunctions.java /
Re2JRegexpFunctions.java (config-switched, FunctionRegistry.java:610-619).

Spark's regex engine is java.util.regex; the common POSIX-ish subset
used in the reference test corpus behaves identically.
"""

from __future__ import annotations

import re as _re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from prestodb_presto_spark.functions import register
from prestodb_presto_spark.functions._util import c


def _java_re_to_python(pattern: str) -> str:
    """Java named groups ``(?<name>..)`` → Python ``(?P<name>..)``.
    Lookbehinds ``(?<=`` / ``(?<!`` are untouched (next char not a
    letter); the rest of the tested dialect subset is shared."""
    return _re.sub(r"\(\?<([A-Za-z][A-Za-z0-9]*)>", r"(?P<\1>", pattern)


@pandas_udf(StructType([
    StructField("segs", ArrayType(StringType())),
    StructField("grps", ArrayType(ArrayType(StringType()))),
]))
def presto_regexp_parts(s: pd.Series, p: pd.Series) -> pd.DataFrame:
    """``__presto_regexp_parts(s, p)``, the SQL-path helper of the regexp
    lambda overload: a string decomposed by every match of ``p`` into
    (segs: the n+1 between-match segments, grps: per match
    ``[full, g1..gn]`` with None for non-participating groups — exactly
    the array Presto's replace-lambda receives, 1-based via Spark's
    0-based ``x[i]`` thanks to the leading full-match element).  The
    dialect tier (dialect._regexp_replace_rewrite) reassembles with
    native higher-order functions, so the user's SQL lambda body runs
    JVM-side; only the match decomposition is Python (Arrow-batched,
    same tier as the DataFrame lambda overload below).
    Reference: JoniRegexpReplaceLambdaFunction.java.
    """
    cache: dict[str, object] = {}

    def one(v, pat_s):
        if v is None or pat_s is None:
            return None, None
        pat = cache.get(pat_s)
        if pat is None:
            pat = cache[pat_s] = _re.compile(_java_re_to_python(pat_s))
        segs, grps, last = [], [], 0
        for m in pat.finditer(v):
            segs.append(v[last : m.start()])
            last = m.end()
            grps.append([m.group(0)] + [m.group(i + 1) for i in range(pat.groups)])
        segs.append(v[last:])
        return segs, grps

    rows = [one(v, pat_s) for v, pat_s in zip(s, p)]
    return pd.DataFrame(rows, columns=["segs", "grps"])


@register("regexp_like")
def regexp_like(x, pattern: str):
    return c(x).rlike(pattern)


@register("regexp_replace")
def regexp_replace(x, pattern: str, repl=""):
    """regexp_replace(string, pattern[, replacement | lambda]).

    The third argument may be a Python callable — the reference's
    replace-with-function overload (JoniRegexpFunctions.java
    regexpReplace(Slice, Regex, ...Lambda): the lambda receives the
    capture-group array of each match and returns its replacement).
    The lambda form runs in the pandas-UDF tier (per-match Python is
    inherently row-at-a-time; Arrow batches keep it off the hot path);
    the plain-string form stays a native JVM expression."""
    if not callable(repl):
        return F.regexp_replace(c(x), pattern, repl)

    compiled = _re.compile(pattern)

    @pandas_udf("string")
    def _replace(s):
        class _NullReplacement(Exception):
            pass

        def one(v):
            if v is None:
                return None

            def sub(m):
                # the lambda receives exactly the capture groups (empty
                # array for a group-less pattern, None for non-matching
                # groups); a NULL replacement nulls the ENTIRE result —
                # JoniRegexpReplaceLambdaFunction.java:86-104
                out = repl(list(m.groups()))
                if out is None:
                    raise _NullReplacement
                return str(out)

            try:
                return compiled.sub(sub, v)
            except _NullReplacement:
                return None

        return s.map(one)

    return _replace(c(x))


@register("regexp_count")
def regexp_count(x, pattern: str):
    return F.regexp_count(c(x), F.lit(pattern)).cast("bigint")


@register("regexp_position")
def regexp_position(x, pattern: str):
    """1-based char position of first match, -1 if none (Presto semantics)."""
    pos = F.regexp_instr(c(x), F.lit(pattern))
    return F.when(pos == 0, F.lit(-1)).otherwise(pos.cast("int")).cast("bigint")


@register("like")
def like(x, pattern: str, escape: str | None = None):
    """LIKE/ESCAPE (reference presto-main/.../type/LikeFunctions.java)."""
    if escape is None:
        return F.like(c(x), F.lit(pattern))
    return F.like(c(x), F.lit(pattern), F.lit(escape))
