"""Workload definitions: which queries run, at what scale, into which sink.

Two workloads, both closed-loop with one client:

- ``olap_tpch``: catalog queries at sf0.1 into the noop sink;
- ``presto_sql``: Presto-dialect statements from the templates below,
  literals drawn from the seed, through ``Engine.sql(dialect="presto")``
  at sf0.01, results collected to the driver.

A run times a fixed number of rounds (passes over the seeded unit
list), so every run of a workload times the same query mix: one round of
12 queries for olap_tpch, two rounds of 11 statements for presto_sql,
whose median needs the second round to settle.  Set-up alone costs
30-45 s on 4 cores, and the runner's 48 runs of the two workloads must
fit in under an hour, so a run has room for about 15 s of timed work.

Each presto_sql template carries its own DuckDB text.  Literals vary the
statement text per seed; the two Python-backed templates pick literals
that keep the rows they read the same (uniform columns), so the tail does
not depend on the seed.  Approximate or
engine-specific aggregates (``approx_distinct``, ``checksum``) are checked
through an envelope column computed on the Spark side, as the catalog's
``agg_approx_distinct`` does; these two are the Python-UDF-backed
minority of the mix.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from datagen import PRIORITIES

OLAP_TPCH = (
    "tpch_q01",
    "tpch_q03",
    "tpch_q05",
    "tpch_q06",
    "tpch_q09",
    "tpch_q13",
    "tpch_q18",
    "tpch_q21",
    "join_semi",
    "agg_multi_distinct",
    "orderby_limit_topn",
    "window_topn_per_group",
)


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    sink: str  # "noop" or "collect"
    rounds: int  # timed passes over the unit list


WORKLOADS = {
    "olap_tpch": Workload("olap_tpch", 0.1, "noop", 1),
    "presto_sql": Workload("presto_sql", 0.01, "collect", 2),
}


@dataclass(frozen=True)
class Statement:
    """One unit of work: a catalog query name or a Presto statement."""

    name: str
    presto: str | None = None  # Presto text (sql workloads)
    duckdb: str | None = None  # oracle text (sql workloads)


@dataclass(frozen=True)
class Template:
    name: str
    presto: str
    duckdb: str
    literals: dict  # placeholder -> tuple of candidate values


TEMPLATES = (
    Template(
        "date_fns",
        "SELECT o_orderpriority, date_diff('day', min(o_orderdate), max(o_orderdate)) AS span_days,"
        " date_format(max(o_orderdate), '%Y-%m') AS last_month, count(*) AS n"
        " FROM orders WHERE o_custkey < {ck} GROUP BY o_orderpriority",
        "SELECT o_orderpriority, date_diff('day', min(o_orderdate), max(o_orderdate)) AS span_days,"
        " strftime(max(o_orderdate), '%Y-%m') AS last_month, count(*) AS n"
        " FROM orders WHERE o_custkey < {ck} GROUP BY o_orderpriority",
        {"ck": (200, 400, 600, 800, 1000, 1200)},
    ),
    Template(
        "json_extract",
        "SELECT json_extract_scalar(props, '$.k') AS k, count(*) AS n, max(value) AS mx"
        " FROM events WHERE event_type = '{etype}' GROUP BY json_extract_scalar(props, '$.k')"
        " HAVING count(*) > {minn}",
        "SELECT json_extract_string(props, '$.k') AS k, count(*) AS n, max(value) AS mx"
        " FROM events WHERE event_type = '{etype}' GROUP BY json_extract_string(props, '$.k')"
        " HAVING count(*) > {minn}",
        {"etype": ("click", "error", "purchase", "signup", "view"), "minn": (15, 20, 25)},
    ),
    Template(
        "strpos",
        "SELECT strpos(c_name, '{digit}') AS pos, count(*) AS n"
        " FROM customer WHERE c_nationkey = {nk} GROUP BY strpos(c_name, '{digit}')",
        "SELECT strpos(c_name, '{digit}') AS pos, count(*) AS n"
        " FROM customer WHERE c_nationkey = {nk} GROUP BY strpos(c_name, '{digit}')",
        {"digit": tuple("123456789"), "nk": tuple(range(25))},
    ),
    Template(
        "arbitrary",
        "SELECT c_custkey, arbitrary(c_name) AS c_name, count(*) AS n_orders"
        " FROM customer JOIN orders ON c_custkey = o_custkey"
        " WHERE c_custkey BETWEEN {lo} AND {lo} + 40 GROUP BY c_custkey",
        "SELECT c_custkey, any_value(c_name) AS c_name, count(*) AS n_orders"
        " FROM customer JOIN orders ON c_custkey = o_custkey"
        " WHERE c_custkey BETWEEN {lo} AND {lo} + 40 GROUP BY c_custkey",
        {"lo": tuple(range(0, 1400, 100))},
    ),
    Template(
        "try",
        "SELECT o_orderstatus, count(TRY(o_orderkey / (o_custkey % {m}))) AS n_ok,"
        " count(TRY_CAST(substr(o_orderpriority, {pos}, 1) AS integer)) AS n_cast,"
        " count(*) AS n FROM orders GROUP BY o_orderstatus",
        "SELECT o_orderstatus, count(CASE WHEN o_custkey % {m} <> 0 THEN 1 END) AS n_ok,"
        " count(TRY_CAST(substr(o_orderpriority, {pos}, 1) AS INTEGER)) AS n_cast,"
        " count(*) AS n FROM orders GROUP BY o_orderstatus",
        {"m": (3, 5, 7, 11, 13), "pos": (1, 2, 3)},
    ),
    Template(
        "grouping_sets",
        "SELECT l_returnflag, l_linestatus, count(*) AS n,"
        " CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty"
        " FROM lineitem WHERE l_shipdate < TIMESTAMP '{day} 00:00:00'"
        " GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())",
        "SELECT l_returnflag, l_linestatus, count(*) AS n,"
        " CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty"
        " FROM lineitem WHERE l_shipdate < TIMESTAMP '{day} 00:00:00'"
        " GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())",
        {"day": ("1996-01-01", "1997-06-01", "1998-03-01", "1999-09-01", "2000-12-01")},
    ),
    Template(
        "window",
        "SELECT o_custkey, o_orderkey, rk, cnt FROM ("
        " SELECT o_custkey, o_orderkey,"
        " rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk,"
        " count(*) OVER (PARTITION BY o_custkey) AS cnt"
        " FROM orders WHERE o_custkey < {ck}) t WHERE rk <= 2",
        "SELECT o_custkey, o_orderkey, rk, cnt FROM ("
        " SELECT o_custkey, o_orderkey,"
        " rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk,"
        " count(*) OVER (PARTITION BY o_custkey) AS cnt"
        " FROM orders WHERE o_custkey < {ck}) t WHERE rk <= 2",
        {"ck": (100, 200, 300, 400, 500)},
    ),
    Template(
        "exists",
        "SELECT c_mktsegment, count(*) AS n FROM customer c WHERE EXISTS ("
        " SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > {price})"
        " GROUP BY c_mktsegment",
        "SELECT c_mktsegment, count(*) AS n FROM customer c WHERE EXISTS ("
        " SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > {price})"
        " GROUP BY c_mktsegment",
        {"price": (300000, 350000, 400000, 450000)},
    ),
    Template(
        "set_ops",
        "SELECT k FROM (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '{prio}'"
        " INTERSECT SELECT c_custkey FROM customer WHERE c_nationkey = {nk}) i"
        " UNION SELECT s_suppkey FROM supplier WHERE s_nationkey = {nk}"
        " EXCEPT SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'",
        "SELECT k FROM (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '{prio}'"
        " INTERSECT SELECT c_custkey FROM customer WHERE c_nationkey = {nk}) i"
        " UNION SELECT s_suppkey FROM supplier WHERE s_nationkey = {nk}"
        " EXCEPT SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'",
        {"prio": ("1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW"), "nk": tuple(range(25))},
    ),
    Template(
        "approx_distinct",
        "SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_distinct,"
        " abs(approx_distinct(l_partkey) - count(DISTINCT l_partkey))"
        " <= 0.1 * count(DISTINCT l_partkey) AS approx_ok"
        " FROM lineitem WHERE l_linestatus = '{status}' GROUP BY l_returnflag",
        "SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_distinct, true AS approx_ok"
        " FROM lineitem WHERE l_linestatus = '{status}' GROUP BY l_returnflag",
        {"status": ("F", "O")},
    ),
    Template(
        "checksum",
        "SELECT o_orderstatus, count(*) AS n, length(to_hex(checksum(o_orderkey))) AS ck_len"
        " FROM orders WHERE o_orderpriority <> '{prio}' GROUP BY o_orderstatus",
        "SELECT o_orderstatus, count(*) AS n, 16 AS ck_len"
        " FROM orders WHERE o_orderpriority <> '{prio}' GROUP BY o_orderstatus",
        {"prio": PRIORITIES},
    ),
)


def presto_statements(seed: int) -> list[Statement]:
    """One statement per template, literals drawn from ``seed``, in a
    seeded order."""
    rng = random.Random(seed)
    out = []
    for tpl in TEMPLATES:
        lits = {k: rng.choice(v) for k, v in sorted(tpl.literals.items())}
        out.append(
            Statement(
                name=tpl.name,
                presto=tpl.presto.format(**lits),
                duckdb=tpl.duckdb.format(**lits),
            )
        )
    rng.shuffle(out)
    return out


def statements(workload: str, seed: int) -> list[Statement]:
    """The seeded, ordered unit list one pass of ``workload`` runs."""
    if workload == "presto_sql":
        return presto_statements(seed)
    names = list(OLAP_TPCH)
    random.Random(seed).shuffle(names)
    return [Statement(name=n) for n in names]
