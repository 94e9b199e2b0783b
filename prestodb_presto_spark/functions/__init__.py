"""Presto-dialect function registry mapped onto native Spark expressions.

The reference registers every function in
presto-main/.../metadata/FunctionRegistry.java:406-625 (impls under
operator/scalar/, docs presto-docs/.../functions/*.rst).  This package
owns each Presto NAME and translates to Spark semantics — never silently
passing through a same-named Spark function with different behavior
(SURVEY.md §7 risk #2: date_add, date_format, split, json_extract...).

Usage (DataFrame level):
    from prestodb_presto_spark.functions import presto as P
    df.select(P.strpos("c_name", "e"), P.date_add("day", 7, "o_orderdate"))

``REGISTRY`` maps presto_name → builder; ``coverage()`` lists all names
for auditing against the reference registry.  A name has ONE builder
(``_register`` rejects a second).  A name in ``templates.SIGNATURES``
calls a session SQL function whose body is ``dialect.translate`` of the
call, created with raw string literals as ``Engine.sql`` parses them, so
the DataFrame API and ``Engine.sql`` share one implementation.  That
covers the datetime and Teradata names and the names whose rewrite reads
a literal argument (a unit, pattern, zone or form): such a parameter
takes a Python value, spelled into the body, with one function per value.

Scale posture: every session function is created in a session on first
use through ``sql_support.ensure``; an ``Engine`` creates none, so a
statement pays only for the functions it calls.
"""

from __future__ import annotations

from collections.abc import Callable

REGISTRY: dict[str, Callable] = {}


def _register(name: str, fn: Callable) -> Callable:
    if name in REGISTRY:
        # a silent overwrite once shadowed the null-preserving array_agg
        raise ValueError(f"duplicate function registration: {name}")
    REGISTRY[name] = fn
    return fn


def register(name: str):
    def deco(fn):
        return _register(name, fn)

    return deco


def coverage() -> list[str]:
    """All implemented Presto function names (sorted)."""
    _load()
    return sorted(REGISTRY)


_loaded = False


def _load():
    global _loaded
    if not _loaded:
        from prestodb_presto_spark.functions import (  # noqa: F401
            aggregates_reg,
            arrays,
            binary_fns,
            bingtiles,
            bitwise,
            color,
            conditional,
            datetime_fns,
            geo,
            geo_setops,
            json_url,
            lambdas,
            maps,
            math_fns,
            regexp_fns,
            setdigest,
            strings,
            templates,
            windows_reg,
        )

        _loaded = True


class _PrestoNamespace:
    def __getattr__(self, name: str):
        _load()
        try:
            return REGISTRY[name]
        except KeyError:
            raise AttributeError(f"presto function not implemented: {name}") from None

    def __dir__(self):
        _load()
        return sorted(REGISTRY)


presto = _PrestoNamespace()
