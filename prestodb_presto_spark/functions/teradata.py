"""Teradata-compat pattern mapper (presto-teradata-functions plugin:
TeradataDateFunctions.java).

to_char, to_date and to_timestamp are signature rows in
``functions/templates.py``; the dialect rewrites their Oracle-style
pattern literal with ``_oracle_to_java``.  index and char2hexint
(TeradataStringFunctions.java) are templates there too.
"""

from __future__ import annotations

import re

# Teradata to_char/to_date use Oracle-style patterns; the common tokens
# map 1:1 onto Java's after case fixing.
_ORACLE_TOKENS = {
    "YYYY": "yyyy", "YY": "yy", "MM": "MM", "DD": "dd",
    "HH24": "HH", "HH": "hh", "MI": "mm", "SS": "ss",
}


# one left-to-right pass, longest token first: HH24 must not be read
# again as HH once it is Java's HH
_ORACLE_TOKEN = re.compile("|".join(sorted(_ORACLE_TOKENS, key=len, reverse=True)))


def _oracle_to_java(fmt: str) -> str:
    return _ORACLE_TOKEN.sub(lambda m: _ORACLE_TOKENS[m.group(0)], fmt)
