"""JSON + URL functions — reference operator/scalar/JsonFunctions.java,
JsonExtract.java, UrlFunctions.java.

JsonPath note (SURVEY.md §7 risk #2): Presto's json_extract takes a
JsonPath; Spark's get_json_object supports the common `$.a.b[0]` subset
— paths outside that subset raise here rather than silently differing.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import functions as F

from prestodb_presto_spark.functions import register
from prestodb_presto_spark.functions._util import c

_SIMPLE_PATH = _re.compile(r"^\$(\.[A-Za-z_][A-Za-z0-9_]*(\[\d+\])?)*$")


def _check_path(path: str) -> str:
    if not _SIMPLE_PATH.match(path):
        raise ValueError(f"JsonPath beyond the supported $.a.b[i] subset: {path}")
    return path


@register("json_extract")
def json_extract(x, path: str):
    return F.get_json_object(c(x), _check_path(path))


@register("json_extract_scalar")
def json_extract_scalar(x, path: str):
    return F.get_json_object(c(x), _check_path(path))


@register("json_array_length")
def json_array_length(x):
    return F.json_array_length(c(x)).cast("bigint")


@register("json_size")
def json_size(x, path: str):
    sub = F.get_json_object(c(x), _check_path(path))
    return F.when(
        sub.startswith("["), F.json_array_length(sub).cast("bigint")
    ).when(
        sub.startswith("{"), F.size(F.json_object_keys(sub)).cast("bigint")
    ).otherwise(F.lit(0).cast("bigint"))


@register("json_parse")
def json_parse(x):
    """Presto JSON type is a string in this engine (SURVEY §1.2)."""
    return c(x)


@register("json_format")
def json_format(x):
    return c(x)


# --- URL functions (UrlFunctions.java: 9 fns) -------------------------------


@register("url_extract_protocol")
def url_extract_protocol(x):
    return F.parse_url(c(x), F.lit("PROTOCOL"))


@register("url_extract_host")
def url_extract_host(x):
    return F.parse_url(c(x), F.lit("HOST"))


@register("url_extract_port")
def url_extract_port(x):
    # Spark parse_url has no PORT part — take it off the authority
    port = F.regexp_extract(c(x), r"^[^:/?#]+://[^/?#]*:(\d+)", 1)
    return F.nullif(port, F.lit("")).try_cast("bigint")


@register("url_extract_path")
def url_extract_path(x):
    return F.parse_url(c(x), F.lit("PATH"))


@register("url_extract_query")
def url_extract_query(x):
    return F.parse_url(c(x), F.lit("QUERY"))


@register("url_extract_fragment")
def url_extract_fragment(x):
    return F.parse_url(c(x), F.lit("REF"))


@register("url_encode")
def url_encode(x):
    return F.url_encode(c(x))


@register("url_decode")
def url_decode(x):
    return F.url_decode(c(x))
