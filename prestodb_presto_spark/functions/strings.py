"""String functions — reference operator/scalar/StringFunctions.java:67-810.

Presto semantics preserved where they differ from Spark:
  - split(str, delim[, limit]): delimiter is a LITERAL string (Spark's is
    a regex) and Presto's limit means "at most limit elements, last one
    keeps the rest" — same as Spark's limit, but the delimiter must be
    regex-escaped.
  - substr with negative start counts from the end (both engines agree).
  - strpos is (string, substring) — Spark locate is (substring, string).
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column
from pyspark.sql import functions as F

from prestodb_presto_spark.functions import register
from prestodb_presto_spark.functions._util import c, lit_or_col


@register("length")
def length(x):
    return F.length(c(x))


@register("lower")
def lower(x):
    return F.lower(c(x))


@register("upper")
def upper(x):
    return F.upper(c(x))


@register("trim")
def trim(x, chars: str | None = None):
    if chars is None:
        return F.trim(c(x))
    cls = _re.escape(chars)
    return F.regexp_replace(c(x), f"^[{cls}]+|[{cls}]+$", "")


@register("ltrim")
def ltrim(x):
    return F.ltrim(c(x))


@register("rtrim")
def rtrim(x):
    return F.rtrim(c(x))


@register("substr")
def substr(x, start, length=None):
    if length is None:
        return c(x).substr(lit_or_col(start), F.lit(2147483647))
    return c(x).substr(lit_or_col(start), lit_or_col(length))


@register("strpos")
def strpos(x, sub):
    """1-based position of first occurrence, 0 if absent (StringFunctions.java)."""
    return F.locate(sub, c(x))


@register("chr")
def chr_(n):
    return F.char(lit_or_col(n))


@register("lpad")
def lpad(x, size, pad=" "):
    return F.lpad(c(x), size, pad)


@register("rpad")
def rpad(x, size, pad=" "):
    return F.rpad(c(x), size, pad)


@register("split")
def split(x, delim: str, limit: int | None = None):
    """Presto split: LITERAL delimiter (escaped before Spark's regex split)."""
    pat = _re.escape(delim)
    return F.split(c(x), pat) if limit is None else F.split(c(x), pat, limit)


@register("split_part")
def split_part(x, delim: str, index):
    return F.split_part(c(x), F.lit(delim), lit_or_col(index))


@register("replace")
def replace(x, search, repl=""):
    return F.replace(c(x), F.lit(search), F.lit(repl))


@register("reverse")
def reverse(x):
    return F.reverse(c(x))


@register("concat")
def concat(*cols):
    return F.concat(*[c(x) for x in cols])


@register("concat_ws")
def concat_ws(sep, *cols):
    return F.concat_ws(sep, *[c(x) for x in cols])


@register("from_utf8")
def from_utf8(x):
    return F.decode(c(x), "utf-8")


@register("levenshtein_distance")
def levenshtein_distance(a, b):
    return F.levenshtein(c(a), c(b))


@register("starts_with")
def starts_with(x, prefix):
    return c(x).startswith(prefix)


def _heuristic_stem(v: str) -> str:
    """Suffix-stripping fallback for non-English languages (the
    reference uses per-language Lucene Snowball stemmers; only the
    English one is reimplemented — porter2.py)."""
    import re as _re

    if _re.search(r".{4}ing$", v):
        v = v[:-3]
    elif _re.search(r".{3}ed$", v):
        v = v[:-2]
    elif _re.search(r".{3}ies$", v):
        v = v[:-3] + "y"
    elif _re.search(r".{3}s$", v) and not v.endswith("ss"):
        v = v[:-1]
    return _re.sub(r"([bdfgmnprt])\1$", r"\1", v)


def stem_one(v: str | None, lang: str = "en") -> str | None:
    """word_stem scalar (WordStemFunction.java): Snowball English
    (Porter2, from-scratch — porter2.py) for 'en'; from-scratch core
    Snowball for fr/es/pt/it/de (snowball.py); suffix-heuristic
    fallback for anything else."""
    if v is None:
        return None
    if lang == "en":
        from prestodb_presto_spark.functions.porter2 import stem

        return stem(v)
    from prestodb_presto_spark.functions.snowball import STEMMERS

    fn = STEMMERS.get(lang)
    return fn(v) if fn else _heuristic_stem(v)


@register("word_stem")
def word_stem(x, lang="en"):
    """Snowball English stemmer, Arrow-batched (the reference's
    word_stem is Lucene Snowball — WordStemFunction.java)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if not isinstance(lang, str):
        lang = "en"

    @pandas_udf("string")
    def _stem(s):
        return pd.Series([stem_one(v, lang) for v in s])

    return _stem(c(x))


@register("normalize")
def normalize(x, form: str = "NFC"):
    """Unicode normalization — no Spark builtin; Arrow-batched pandas UDF."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(lambda v: unicodedata.normalize(form, v) if v is not None else None)

    return _norm(c(x))


@register("split_to_map")
def split_to_map(x, entry_delim, kv_delim):
    """split_to_map('a=1,b=2', ',', '=') -> map (SplitToMapFunction.java:39).
    Native: str_to_map has the same contract."""
    return F.str_to_map(c(x), F.lit(entry_delim), F.lit(kv_delim))


@register("split_to_multimap")
def split_to_multimap(x, entry_delim, kv_delim):
    """split_to_multimap -> map<key, array<value>> keeping duplicate keys
    (SplitToMultimapFunction.java)."""
    entries = F.transform(
        F.split(c(x), F.lit(entry_delim).cast("string")),
        lambda e: F.struct(
            F.split(e, kv_delim).getItem(0).alias("k"),
            F.split(e, kv_delim).getItem(1).alias("v"),
        ),
    )
    keys = F.array_distinct(F.transform(entries, lambda e: e.k))
    return F.map_from_arrays(
        keys,
        F.transform(
            keys,
            lambda k: F.transform(F.filter(entries, lambda e: e.k == k), lambda e: e.v),
        ),
    )


@register("translate")
def translate(x, frm, to):
    """translate(string, from, to) (StringFunctions.translate)."""
    return F.translate(c(x), frm, to)


@register("position")
def position(sub, x):
    """position(substring IN string) — grammar form; strpos arg order
    swapped."""
    return F.instr(c(x), sub).cast("bigint")
