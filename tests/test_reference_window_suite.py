"""Run the reference's OWN window-function unit tests.

presto-main's operator/window/Test*.java assert window expressions over
a FIXED 10-row orders sample (WindowAssertions.VALUES /
VALUES_WITH_NULLS) against fully-literal expected rows:

    assertWindowQuery("rank() OVER (ORDER BY orderstatus)",
        resultBuilder(...).row(3, "F", 1L)....build());

Both the input VALUES queries and every case are scraped from the
read-only checkout at test time (never copied) and executed through
Engine.sql(dialect="presto") as
``SELECT orderkey, orderstatus, <expr> FROM (<values>) x`` — the exact
query WindowAssertions builds — comparing row multisets
order-insensitively, as the reference does (assertEqualsIgnoreOrder).
"""

from __future__ import annotations

import glob
import math
import os
import re

import pytest

REF_WINDOW_DIR = (
    "/root/reference/presto-main/src/test/java/com/facebook/presto"
    "/operator/window"
)

_ASSERT = re.compile(
    r"assert(Unbounded)?WindowQuery(WithNulls)?\(\s*\""
)
_JOIN_CONCAT = re.compile(r'"\s*\+\s*"', re.DOTALL)
_LEAD_STR = re.compile(r'^\s*"((?:[^"\\]|\\.)*)"\s*,\s*(.*)$', re.DOTALL)
_ROW = re.compile(r"\.row\(")


def _scan_call(src: str, open_idx: int) -> int | None:
    i, depth, n = open_idx, 0, len(src)
    while i < n:
        c = src[i]
        if c in ('"', "'"):
            q = c
            i += 1
            while i < n and src[i] != q:
                if src[i] == "\\":
                    i += 1
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    return None


def _split_top(s: str) -> list[str]:
    parts, depth, buf, i, n = [], 0, "", 0, len(s)
    while i < n:
        ch = s[i]
        if ch == '"':
            j = i + 1
            while j < n:
                if s[j] == "\\":
                    j += 2
                    continue
                if s[j] == '"':
                    break
                j += 1
            buf += s[i : j + 1]
            i = j + 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append(buf)
            buf = ""
        else:
            buf += ch
        i += 1
    parts.append(buf)
    return parts


def _cell(raw: str):
    """(ok, value) for one expected-row cell."""
    raw = raw.strip()
    if raw == "null":
        return True, None
    if raw in ("true", "false"):
        return True, raw == "true"
    m = re.fullmatch(r"[+-]?\d+L?", raw)
    if m:
        return True, int(raw.rstrip("L"))
    m = re.fullmatch(r"[+-]?(\d+\.\d*([eE][+-]?\d+)?|\d+[eE][+-]?\d+)", raw)
    if m:
        return True, float(raw)
    m = re.fullmatch(r'"((?:[^"\\]|\\.)*)"', raw)
    if m:
        return True, m.group(1).replace('\\"', '"').replace("\\\\", "\\")
    return False, None


def _java_sql_constant(src: str, name: str) -> str:
    m = re.search(rf"String {name} = \"\"(.*?);", src, re.DOTALL)
    assert m, name
    text = _JOIN_CONCAT.sub("", m.group(1))
    sm = re.search(r'"((?:[^"\\]|\\.)*)"', text, re.DOTALL)
    return sm.group(1).replace("\\n", "\n").replace('\\"', '"')


def scrape_window_cases():
    wa = open(f"{REF_WINDOW_DIR}/WindowAssertions.java").read()
    values = _java_sql_constant(wa, "VALUES")
    values_nulls = _java_sql_constant(wa, "VALUES_WITH_NULLS")
    cases = []
    for path in sorted(glob.glob(f"{REF_WINDOW_DIR}/Test*.java")):
        src = open(path).read()
        fname = path.rsplit("/", 1)[-1]
        for m in _ASSERT.finditer(src):
            open_idx = src.index("(", m.start())
            close = _scan_call(src, open_idx)
            if close is None:
                continue
            arg_text = _JOIN_CONCAT.sub("", src[open_idx + 1 : close])
            lm = _LEAD_STR.match(arg_text)
            if not lm:
                continue
            expr = lm.group(1).replace("\\n", "\n").replace('\\"', '"')
            if m.group(1):  # assertUnbounded...
                if not expr.endswith(")"):
                    continue
                expr = (
                    expr[:-1]
                    + " ROWS BETWEEN UNBOUNDED PRECEDING AND"
                    " UNBOUNDED FOLLOWING)"
                )
            rows = []
            ok = True
            rest = lm.group(2)
            for rm in _ROW.finditer(rest):
                rend = _scan_call(rest, rm.end() - 1)
                if rend is None:
                    ok = False
                    break
                cells = []
                for c_raw in _split_top(rest[rm.end() : rend]):
                    cok, v = _cell(c_raw)
                    if not cok:
                        ok = False
                        break
                    cells.append(v)
                if not ok:
                    break
                rows.append(tuple(cells))
            if not ok or not rows:
                continue
            cases.append(
                (fname, expr, values_nulls if m.group(2) else values, rows)
            )
    return cases


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v


def _rows_match(got_rows, exp_rows) -> bool:
    if len(got_rows) != len(exp_rows):
        return False

    def key(r):
        return tuple(
            (x is None, str(type(x)) if isinstance(x, str) else "", _norm(x))
            if not isinstance(x, float)
            else (False, "f", _norm(x))
            for x in r
        )

    try:
        gs = sorted(
            (tuple(_norm(x) for x in r) for r in got_rows),
            key=lambda r: tuple(repr(x) for x in r),
        )
        es = sorted(
            (tuple(_norm(x) for x in r) for r in exp_rows),
            key=lambda r: tuple(repr(x) for x in r),
        )
    except TypeError:
        return False
    for g, e in zip(gs, es):
        if len(g) != len(e):
            return False
        for gv, ev in zip(g, e):
            if isinstance(ev, float):
                if not isinstance(gv, (int, float)) or not math.isclose(
                    float(gv), ev, rel_tol=1e-9, abs_tol=1e-12
                ):
                    return False
            elif gv != ev:
                return False
    return True


# exact-pass count per reference window test file (current: 102/102)
PASS_FLOORS = {
    "TestAggregateWindowFunction.java": 25,
    "TestCumulativeDistributionFunction.java": 7,
    "TestDenseRankFunction.java": 2,
    "TestFirstValueFunction.java": 7,
    "TestLagFunction.java": 12,
    "TestLastValueFunction.java": 7,
    "TestLeadFunction.java": 12,
    "TestMultipleWindowSpecifications.java": 12,
    "TestNTileFunction.java": 5,
    "TestNthValueFunction.java": 9,
    "TestPercentRankFunction.java": 2,
    "TestRankFunction.java": 2,
}


def test_reference_window_queries(engine):
    if not os.path.isdir(REF_WINDOW_DIR):
        pytest.skip("reference checkout not present")
    cases = scrape_window_cases()
    if not cases:
        pytest.skip("reference checkout not present")
    passed: dict[str, int] = {}
    totals: dict[str, int] = {}
    failures = []
    for fname, expr, values, exp_rows in cases:
        totals[fname] = totals.get(fname, 0) + 1
        sql = f"SELECT orderkey, orderstatus,\n{expr}\nFROM ({values}) x"
        try:
            got = [
                tuple(r) for r in engine.sql(sql, dialect="presto").collect()
            ]
        except Exception as e:
            failures.append((fname, expr, "ERR " + str(e)[:90]))
            continue
        if _rows_match(got, exp_rows):
            passed[fname] = passed.get(fname, 0) + 1
        else:
            failures.append((fname, expr, f"rows {got[:3]} != {exp_rows[:3]}"))
    for f, floor in PASS_FLOORS.items():
        assert passed.get(f, 0) >= floor, (
            f"{f}: {passed.get(f, 0)} < floor {floor}: "
            + str([x for x in failures if x[0] == f][:3])
        )
    total = sum(passed.values())
    # overall floor (see module docstring); per-file floors above
    assert total >= OVERALL_FLOOR, (total, failures[:5])


OVERALL_FLOOR = 102
