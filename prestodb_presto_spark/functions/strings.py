"""String functions — reference operator/scalar/StringFunctions.java:67-810.

Presto semantics preserved where they differ from Spark:
  - strpos is (string, substring) — Spark locate is (substring, string).
  - position(substring IN string) swaps strpos's argument order.

split, split_part, replace, chr, the trims, substr, split_to_map /
split_to_multimap, normalize and from_utf8 are session functions over the
dialect's translation (templates.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from prestodb_presto_spark.functions import register
from prestodb_presto_spark.functions._util import c, lit_or_col
from prestodb_presto_spark.functions.sql_support import presto_word_stem


@register("length")
def length(x):
    return F.length(c(x))


@register("lower")
def lower(x):
    return F.lower(c(x))


@register("upper")
def upper(x):
    return F.upper(c(x))


@register("strpos")
def strpos(x, sub):
    """1-based position of first occurrence, 0 if absent (StringFunctions.java)."""
    return F.locate(sub, c(x))


@register("lpad")
def lpad(x, size, pad=" "):
    return F.lpad(c(x), size, pad)


@register("rpad")
def rpad(x, size, pad=" "):
    return F.rpad(c(x), size, pad)


@register("reverse")
def reverse(x):
    return F.reverse(c(x))


@register("concat")
def concat(*cols):
    return F.concat(*[c(x) for x in cols])


@register("concat_ws")
def concat_ws(sep, *cols):
    return F.concat_ws(sep, *[c(x) for x in cols])


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
    """Snowball stemmer per language (``stem_one``), Arrow-batched (the
    reference's word_stem is Lucene Snowball — WordStemFunction.java).
    ``lang`` is a language code or a Column of them."""
    return presto_word_stem(c(x), lit_or_col(lang))


@register("translate")
def translate(x, frm, to):
    """translate(string, from, to) (StringFunctions.translate)."""
    return F.translate(c(x), frm, to)


@register("position")
def position(sub, x):
    """position(substring IN string) — grammar form; strpos arg order
    swapped."""
    return F.instr(c(x), sub).cast("bigint")
