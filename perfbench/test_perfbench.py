"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import importlib.util
import os
import sys
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402
from spans import Tracer, attach_jobs, self_times  # noqa: E402
from workloads import OLAP_TPCH, WORKLOADS, statements  # noqa: E402

SF = 0.001


@pytest.fixture(scope="module")
def content():
    return datagen.content(SF)


@pytest.fixture(scope="module")
def two_seeds(tmp_path_factory, content):
    dirs = {}
    for seed in (1, 2):
        out = str(tmp_path_factory.mktemp(f"seed{seed}"))
        datagen.write(datagen.permute(content, seed), out, row_groups=8)
        dirs[seed] = out
    return dirs


def test_same_seed_same_statements_and_tables(content):
    for name in WORKLOADS:
        assert statements(name, 7) == statements(name, 7)
    a, b = datagen.permute(content, 7), datagen.permute(content, 7)
    assert all(a[t].equals(b[t]) for t in content)
    assert datagen.content(SF)["documents"].equals(content["documents"])


def test_seed_changes_statement_order_and_literals():
    assert statements("olap_tpch", 1) != statements("olap_tpch", 2)
    assert sorted(s.name for s in statements("olap_tpch", 1)) == sorted(OLAP_TPCH)
    assert statements("presto_sql", 1) != statements("presto_sql", 2)


def test_different_seed_different_order_same_duckdb_results(two_seeds):
    from prestodb_presto_spark.queries import load_all
    from prestodb_presto_spark.testing import duckdb_oracle

    lineitem = [pq.read_table(f"{two_seeds[s]}/lineitem.parquet") for s in (1, 2)]
    assert not lineitem[0].equals(lineitem[1])
    assert lineitem[0].sort_by("l_orderkey").num_rows == lineitem[1].num_rows

    specs = load_all()
    oracles = [s.duckdb for s in statements("presto_sql", 1)]
    oracles += [specs[name].oracle for name in OLAP_TPCH]
    cons = [duckdb_oracle(two_seeds[s]) for s in (1, 2)]
    try:
        for sql in oracles:
            r1, r2 = (sorted(map(repr, c.execute(sql).fetchall())) for c in cons)
            assert r1 == r2, sql
    finally:
        for c in cons:
            c.close()


def test_split_tables_have_row_groups(two_seeds):
    for name in datagen.SPLIT_TABLES:
        assert pq.ParquetFile(f"{two_seeds[1]}/{name}.parquet").metadata.num_row_groups == 8


def _fixture_dir() -> str:
    spec = importlib.util.spec_from_file_location("_fixtures", os.path.join(ROOT, "tests", "conftest.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.SF_TINY


def test_generated_schemas_match_fixture_footers(two_seeds):
    fixtures = _fixture_dir()
    if not os.path.isdir(fixtures):
        pytest.skip("fixture tables not present")
    for name in datagen.row_counts(SF):
        ours = pq.read_schema(f"{two_seeds[1]}/{name}.parquet").remove_metadata()
        theirs = pq.read_schema(f"{fixtures}/{name}.parquet").remove_metadata()
        assert ours.equals(theirs), (name, ours, theirs)


def test_declared_names_are_the_printed_names():
    spec = M.load_spec()
    per_layer = M.declared(spec, trace=True)
    assert list(M.MOVES) == list(per_layer)

    e2e = M.end_to_end(30.0, [0.5, 2.0, 0.7], 0, 3, 4.0, 2000.0)
    assert e2e["query_p50_s"] == 0.7 and e2e["query_tail_s"] == 2.0
    line = M.result_line(True, 11, 0, e2e, M.declared(spec, trace=False))
    assert list(line["metrics"]) == [m["name"] for m in spec["end_to_end"]]

    bench = SimpleNamespace(tracer=Tracer(True), layer=dict.fromkeys(run.SETUP_LAYERS, 1.0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    values = run.per_layer(bench, overhead=0.0)
    assert set(values) == set(per_layer)
    line = M.result_line(True, 1, 0, values, per_layer)
    assert list(line["metrics"]) == list(per_layer)


def test_span_self_times_sum_to_query_wall_time():
    tr = Tracer(True)
    tr.query = 1
    root = tr.add("query", 0.0, 10.0, None)
    sql = tr.add("engine.sql", 0.0, 2.0, root.id)
    tr.add("dialect.translate", 0.1, 0.4, sql.id)
    tr.add("catalyst.plan", 2.0, 3.0, root.id)
    action = tr.add("exec.action", 3.0, 9.5, root.id)
    jobs = [
        {"start": 3.2, "end": 5.0},
        {"start": 4.0, "end": 6.0},  # overlaps the first
        {"start": 7.0, "end": None},  # lost its end: clipped to the action
        {"start": 1.0, "end": 1.5},  # inside engine.sql
    ]
    assert attach_jobs(tr, root, jobs) == 1
    st = self_times(tr.spans)
    own = [s for s in tr.spans if s.query == 1]
    assert sum(st[s.id] for s in own) == pytest.approx(root.end - root.start)
    assert st[action.id] == pytest.approx(6.5 - (6.0 - 3.2) - (9.5 - 7.0))
