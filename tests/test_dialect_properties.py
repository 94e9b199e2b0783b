"""Property-based tests (hypothesis) for the dialect translator and the
MySQL→Java datetime pattern mapper — the shim must never corrupt SQL it
doesn't own.
"""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from prestodb_presto_spark.dialect import translate
from prestodb_presto_spark.functions.datetime_fns import _MYSQL_TOKENS, _mysql_to_java

OWNED = re.compile(
    r"\b(date_add|date_diff|date_format|date_parse|strpos|arbitrary|"
    r"approx_distinct|json_extract|json_extract_scalar|json_parse|json_format|"
    r"to_unixtime|from_unixtime)\s*\(",
    re.IGNORECASE,
)

ident = st.from_regex(r"[a-z_][a-z0-9_]{0,10}", fullmatch=True)


@given(
    cols=st.lists(ident, min_size=1, max_size=5),
    table=ident,
)
@settings(max_examples=200, deadline=None)
def test_plain_sql_is_untouched(cols, table):
    """SQL containing none of the owned names must pass through verbatim."""
    sql = f"SELECT {', '.join(cols)} FROM {table} WHERE {cols[0]} > 5"
    if OWNED.search(sql):
        return
    assert translate(sql) == sql


@given(st.sampled_from(sorted(_MYSQL_TOKENS)), st.sampled_from(sorted(_MYSQL_TOKENS)))
@settings(max_examples=100, deadline=None)
def test_mysql_token_pairs_translate(tok_a, tok_b):
    """Every pair of supported %-tokens with separators translates without
    raising, and literal separators survive."""
    out = _mysql_to_java(f"{tok_a}-{tok_b}")
    assert "-" in out
    assert "%" not in out or tok_a == "%%" or tok_b == "%%"


@given(st.text(alphabet="ABCdef-:/. ", max_size=12))
@settings(max_examples=200, deadline=None)
def test_mysql_literals_are_quoted(lit):
    """Pattern text without % tokens: every ASCII letter must end up inside
    quotes so Java's formatter treats it literally."""
    out = _mysql_to_java(lit)
    # strip quoted spans; no bare letters may remain
    assert not re.search(r"[A-Za-z]", re.sub(r"'[^']*'", "", out))


@given(
    unit=st.sampled_from(["day", "hour", "minute", "second", "week", "month", "year"]),
    n=st.integers(-1000, 1000),
    col=ident,
)
@settings(max_examples=100, deadline=None)
def test_date_add_always_rewrites(unit, n, col):
    sql = f"SELECT date_add('{unit}', {n}, {col}) FROM t"
    out = translate(sql)
    field, k = {"week": ("DAY", 7), "month": ("MONTH", 1), "year": ("YEAR", 1)}.get(
        unit, (unit.upper(), 1)
    )
    step = f"({n}) * {k}" if k > 1 else n
    assert f"({col} + CAST({step} AS INTERVAL {field}))" in out
    assert "date_add" not in out


def test_translate_is_idempotent_on_translated_output():
    sql = (
        "SELECT date_add('day', 1, ts), strpos(s, 'x'), arbitrary(v), "
        "date_format(ts, '%Y-%m-%d') FROM t"
    )
    once = translate(sql)
    assert translate(once) == once


def test_owned_names_inside_string_literals_untouched():
    sql = "SELECT 'use strpos(x) and arbitrary(y)' AS doc, strpos(s, 'x') FROM t"
    out = translate(sql)
    assert "'use strpos(x) and arbitrary(y)'" in out
    assert "instr(s, 'x')" in out

    # escaped quotes inside the literal (spliced in as char(39): raw
    # literals would keep '' as two quotes)
    sql2 = "SELECT 'it''s strpos(' AS v FROM t"
    assert translate(sql2) == "SELECT ('it' || char(39) || 's strpos(') AS v FROM t"


def test_new_constructs_idempotent():
    """TRY / UNNEST / type-spelling / DECIMAL-literal / ARRAY[] rewrites
    must be stable under re-translation (rewritten output is valid Spark
    SQL the shim no longer owns)."""
    cases = [
        "SELECT TRY(CAST(s AS BIGINT)), TRY(a / b) FROM t",
        "SELECT x FROM t CROSS JOIN UNNEST(arr) WITH ORDINALITY AS u(x, i)",
        "SELECT CAST(x AS ARRAY(ROW(a INTEGER, b VARCHAR))) FROM t",
        "SELECT approx_percentile(x, w, 0.5), approx_percentile(x, ARRAY[0.5, 0.9]) FROM t",
        "SELECT decimal '0.07' + x FROM t",
        "SELECT timezone_hour(ts), timezone_minute(ts AT TIME ZONE 'Asia/Kolkata') FROM t",
        "SELECT regexp_split(s, '') FROM t",
        "SELECT 'x\\', strpos(s, '\\') FROM t",
        "SELECT split(s, ',') FROM t",
        "SELECT regexp_split(s, '[0-9]') FROM t",
        "SELECT split(s, ',', 2) FROM t",
    ]
    for sql in cases:
        once = translate(sql)
        assert translate(once) == once, sql


def test_trailing_semicolon_order_by():
    """ORDER BY followed by ';' must put the NULLS suffix before the
    semicolon (r4 advice: the item scanner didn't terminate on ';')."""
    out = translate("SELECT * FROM t ORDER BY a;")
    assert out == "SELECT * FROM t ORDER BY a NULLS LAST;"
    out2 = translate("SELECT * FROM t ORDER BY a DESC, b;")
    assert out2 == "SELECT * FROM t ORDER BY a DESC NULLS FIRST, b NULLS LAST;"


def test_at_time_zone_postfix_is_plain_spark_sql():
    """The AT TIME ZONE postfix must lower to built-in Spark functions —
    at_timezone is a registry Column builder, not a SQL function (r4
    advice: the old rewrite emitted an UNRESOLVED_ROUTINE)."""
    out = translate("SELECT TIMESTAMP '2024-01-01 12:00:00' AT TIME ZONE 'America/Los_Angeles'")
    assert "at_timezone" not in out
    assert "from_utc_timestamp(to_utc_timestamp(" in out
    assert translate(out) == out


def test_division_compat_presto_posture():
    """Presto arithmetic (MathFunctions.java, *Operators.java):
    int-literal / int-literal is integer division; X / <zero float
    literal> is IEEE Infinity/NaN, not an ANSI error."""
    out = translate("SELECT 7/2 AS v")
    assert "DIV" in out, out
    out = translate("SELECT 1.0E0 / 0.0E0 AS v")
    assert "Infinity" in out and "/" not in out.split("AS v")[0].replace("'", ""), out
    # non-zero divisors and column divisions stay untouched
    assert "DIV" not in translate("SELECT a/b FROM t")
    assert translate("SELECT x / 2.5 FROM t") == "SELECT x / 2.5 FROM t"


def test_like_compat_no_default_escape():
    """Presto LIKE has no default escape char (SqlBase.g4): backslashes
    in literal patterns are literal; ESCAPE '' disables escaping;
    ESCAPE NULL yields NULL."""
    out = translate(r"SELECT '_x_' like '\_x\_' AS v")
    assert r"'\\_x\\_'" in out, out
    out = translate("SELECT 'm' like 'm' escape '' AS v")
    assert "escape" not in out.lower(), out
    out = translate("SELECT 'm' like 'm' escape null AS v")
    assert "AND NULL" in out, out
    # a real escape char passes through untouched
    out = translate("SELECT 'm_x' like 'mz_x' escape 'z' AS v")
    assert "escape 'z'" in out.lower(), out


def test_extract_compat_zoned_literal_and_interval():
    """EXTRACT local fields of a zoned timestamp literal read the
    VALUE's zone; any field works over any interval
    (DateTimeFunctions.java extract family)."""
    out = translate(
        "SELECT extract(quarter FROM TIMESTAMP '2001-01-01 00:00:00.000 +06:00') v"
    )
    assert "TIMESTAMP_NTZ '2001-01-01 00:00:00.000'" in out, out
    out = translate("SELECT extract(minute FROM INTERVAL '247' SECOND) v")
    assert "AS INTERVAL DAY TO SECOND" in out, out
    out = translate("SELECT extract(year FROM INTERVAL '29' MONTH) v")
    assert "AS INTERVAL YEAR TO MONTH" in out, out
    # a ZONELESS timestamp literal stays plain — only a trailing zone
    # (letter/sign-led) triggers the NTZ local-part rewrite; a bare
    # time part must never be mistaken for a zone (hour would become 0)
    out = translate(
        "SELECT extract(hour FROM TIMESTAMP '2001-01-01 02:00:00') v"
    )
    assert "TIMESTAMP_NTZ" not in out, out
    assert "TIMESTAMP '2001-01-01 02:00:00'" in out, out


def test_spark_safe_literal_trailing_backslash():
    """Spark's lexer eats \\' even in raw-literal mode: a literal with
    an odd trailing backslash run must splice char(92)."""
    out = translate(r"SELECT 'abc\' AS v")
    assert "char(92)" in out, out
    # even runs and interior backslashes stay plain literals
    out = translate(r"SELECT 'a\b' AS v")
    assert "char(92)" not in out, out


def test_advice_r5_compound_integral_cast_rounds():
    """ADVICE r5 (medium): a compound expression that merely ENDS with an
    integral cast is NOT statically integral — the outer integral cast
    must keep the HALF_UP rounding pivot (Presto rounds 2.6 -> 3)."""
    out = translate(
        "SELECT CAST(CAST(x AS DOUBLE) + CAST(y AS INTEGER) AS BIGINT) FROM t"
    )
    # the OUTER cast routes through the DECIMAL(38,0) pivot
    assert out.count("DECIMAL(38,0)") >= 2, out
    # a genuine single integral-to-integral cast stays plain
    out = translate("SELECT CAST(CAST(x AS BIGINT) AS INTEGER) FROM t")
    assert out.count("DECIMAL(38,0)") == 1, out  # only the inner bare column


def test_advice_r5_comma_join_derived_table_not_collapsed():
    """ADVICE r5 (medium): a comma-join derived table is a relation, not
    a scalar subquery — must survive untouched."""
    out = translate("SELECT x FROM a, (SELECT 1 AS x) b")
    assert "(SELECT 1 AS x)" in out, out


def test_advice_r5_values_multiarg_row_decomposes():
    """ADVICE r5 (low): StatementAnalyzer.visitValues decomposes ANY
    row-typed row expression into field types — (ROW(a, b)) is two
    columns, not one struct."""
    out = translate("SELECT * FROM (VALUES (ROW(1, 2))) t(a, b)")
    assert "ROW" not in out.upper() or "named_struct" not in out, out
    assert "(VALUES (1, 2))" in out, out


def test_advice_r5_grouping_sets_constant_kept_in_grand_total():
    """ADVICE r5 (low): constants in the select list keep their value in
    the UNION ALL grand-total branch (Presto emits 1, not NULL)."""
    out = translate("SELECT 1, count(*) FROM t GROUP BY GROUPING SETS ((a), ())")
    head, _, tail = out.partition("UNION ALL")
    assert tail.strip().startswith("SELECT 1,"), out
    # column references still NULL out, preserving any alias
    out = translate(
        "SELECT a AS k, count(*) FROM t GROUP BY GROUPING SETS ((a), ())"
    )
    assert "NULL AS k" in out.split("UNION ALL")[1], out


def test_grouping_order_by_hoist_and_map_in():
    """Round-6: grouping() in ORDER BY over a grouped query hoists into
    the grouped projection; MAP constructor IN-lists compare canonical
    sorted entry arrays (Spark maps are not comparable)."""
    out = translate(
        "SELECT a, sum(c) FROM t GROUP BY GROUPING SETS ((a), (b)) "
        "ORDER BY grouping(b) ASC"
    )
    assert "__ord1" in out and "EXCEPT" in out, out
    out = translate(
        "SELECT x FROM (VALUES 2) t(x) WHERE MAP(ARRAY[1], ARRAY[x]) IN "
        "(VALUES MAP(ARRAY[1],ARRAY[2]))"
    )
    assert out.count("sort_array(map_entries(") == 2, out
    # a MAP deeper in an expression, or vs a subquery list, is untouched
    out = translate("SELECT MAP(ARRAY[1], ARRAY[2]) AS m FROM t")
    assert "sort_array" not in out, out


def test_order_by_mixed_scope():
    """Round-6: a sort item mixing output scope (bare alias) and input
    scope (qualified column) — input columns get projected alongside the
    output aliases so Spark sees one scope."""
    out = translate(
        "SELECT -a AS a FROM (VALUES 1, 2) t(a) "
        "ORDER BY first_value(a+t.a*2) OVER (ORDER BY a ROWS 0 PRECEDING)"
    )
    # the input column is projected once (t.a AS __sc_a) and the final
    # ORDER BY references only single-scope names
    assert "t.a AS __sc_a" in out, out
    assert "t.a" not in out.rsplit("ORDER BY", 1)[1], out
    # single-scope sorts stay untouched
    out = translate("SELECT -a AS b FROM t ORDER BY t.a")
    assert "__sc_" not in out, out


def test_using_join_qualified_wildcard_excludes_join_columns():
    """Round-6: a qualified wildcard over a USING join excludes the using
    columns (ANSI / StatementAnalyzer), expanded statically when the
    derived tables' output names are known."""
    out = translate(
        "SELECT a.*, b.* FROM (SELECT orderkey, partkey FROM lineitem) a "
        "JOIN (SELECT orderkey, custkey FROM orders) b USING (orderkey)"
    )
    assert "a.partkey, b.custkey FROM" in out, out
    # unknown column sets (plain tables) stay untouched
    out = translate("SELECT a.* FROM lineitem a JOIN orders b USING (orderkey)")
    assert "a.*" in out, out


def test_advice_r6_wrapper_flatten_aggregate_guard():
    """ADVICE r6 (medium): a derived-table scalar wrapper whose item is an
    AGGREGATE is a one-row aggregation query — flattening it to a bare
    expression would re-scope the aggregate to the OUTER query.  The
    wrapper level drops but the scalar-subquery boundary stays."""
    out = translate(
        "SELECT o.orderkey, (SELECT * FROM (SELECT max(o.custkey))) FROM orders o"
    )
    assert "(SELECT max(o.custkey))" in out, out
    assert "orderkey, (max(o.custkey))" not in out, out
    # non-aggregate items still flatten fully
    out = translate(
        "SELECT o.orderkey, (SELECT * FROM (SELECT o.custkey + 1)) FROM orders o"
    )
    assert "(o.custkey + 1)" in out and "SELECT * FROM" not in out, out


def test_advice_r6_strip_comments_quoted_identifier():
    """ADVICE r6 (low): '--' inside a double-quoted identifier is part of
    the name, not a comment."""
    out = translate('SELECT "a--b" FROM t')
    assert '"a--b"' in out or "`a--b`" in out, out
    # doubled-quote escape inside the identifier also survives
    out = translate('SELECT "a""--x" FROM t')
    assert '--x' in out, out
    # real comments still strip
    out = translate("SELECT a -- trailing\nFROM t")
    assert "trailing" not in out, out


def test_advice_r6_order_by_mixed_scope_other_qualified_refs():
    """ADVICE r6 (low): when the mixed-scope rewrite fires, EVERY
    qualified ref in the ORDER BY tail must be covered by a __sc_
    projection — the relation alias is out of scope in the outer query."""
    out = translate("SELECT -a AS a, b FROM x t ORDER BY t.a + a, t.b")
    tail = out.rsplit("ORDER BY", 1)[1]
    assert "t.a" not in tail and "t.b" not in tail, out
    assert "__sc_a" in tail and "__sc_b" in tail, out


def test_advice_r8_fraction_classification_positional():
    """ADVICE r8 (low): the approx_percentile fraction classifier must
    treat identifiers positionally — a fraction COLUMN named array_pct
    / e / double / cast routes to the qdigest any_value path (not the
    native percentile path, which fails NON_FOLDABLE_INPUT), while
    CAST-decorated and scientific-notation literals stay native."""
    from prestodb_presto_spark.dialect import (
        _ARRAY_CTOR_HEAD,
        _fraction_is_nonfoldable,
    )

    for p in ("0.5", "CAST(0.5 AS DOUBLE)", "cast(0.5 as decimal(3,2))",
              "1e-1", "0.5 + 0.25", "TRY_CAST(0.99 AS REAL)", ".5"):
        assert not _fraction_is_nonfoldable(p), p
    for p in ("pct", "array_pct", "e", "double", "cast", "x / 100.0",
              "f(0.5)", "null_frac"):
        assert _fraction_is_nonfoldable(p), p
    assert _ARRAY_CTOR_HEAD.match("ARRAY[0.5, 0.9]")
    assert _ARRAY_CTOR_HEAD.match(" array (0.5)")
    assert not _ARRAY_CTOR_HEAD.match("array_pct")
    # end-to-end: the rewrite emits the qdigest pick for a column-like
    # fraction even when its name starts with "array"
    from prestodb_presto_spark.dialect import _approx_percentile_rewrite

    out = _approx_percentile_rewrite(["x", "array_pct"])
    assert out is not None and "any_value(array_pct)" in out, out
    out = _approx_percentile_rewrite(["x", "ARRAY[0.5]"])
    assert "percentile_approx" in out, out
