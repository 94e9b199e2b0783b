"""The one table of session functions (functions/sql_support.py)."""

from __future__ import annotations

import re
from pathlib import Path

_PKG = Path(__file__).resolve().parent.parent / "prestodb_presto_spark"
_EMITTERS = ("dialect.py", "functions/hll.py", "functions/hll_sketch.py")
_EMITTED = re.compile(r"\b(?:__presto_\w+|presto_hll_\w+|presto_checksum_row)\b")
# created per call by _util.session_fn, not from the table: the geo
# functions and the signature rows' __presto_<name>_<arity>[_<digest>]
_DYNAMIC = re.compile(r"__presto_geo_\w+|__presto_\w+_\d+(?:_[0-9a-f]{12})?")


def test_every_emitted_name_is_in_the_table():
    """A name the translation emits and the table lacks would surface
    only as UNRESOLVED_ROUTINE on the one statement that calls it."""
    from prestodb_presto_spark.functions.sql_support import _table

    emitted = {
        name
        for path in _EMITTERS
        for name in _EMITTED.findall((_PKG / path).read_text())
        if not _DYNAMIC.fullmatch(name)
    }
    assert len(emitted) >= 20, sorted(emitted)
    assert emitted <= set(_table()), sorted(emitted - set(_table()))
