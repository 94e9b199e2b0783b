"""Metric declarations and the arithmetic that turns run records into them.

Names, units and bounds are declared once, in BENCHMARK.json at the
repository root.  ``MOVES`` adds what BENCHMARK.json's fixed schema has
no room for: the end-to-end metric and the workloads each per-layer
metric should move, so a later change can cite names alone.

End-to-end times are full-share seconds (see run.py).  Per-layer values
are per executed unit (query or statement) of the traced round of a
traced run, unless the name says otherwise.  A
``_s`` layer metric is the layer's self time, except ``exec.action_s``,
which is the whole action.
"""

from __future__ import annotations

import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")

_ALL = "olap_tpch presto_sql"
# per-layer name -> (end-to-end metric it should move, workloads)
MOVES = {
    "session.start_s": ("setup_s", _ALL),
    "engine.register_s": ("setup_s", _ALL),
    "queries.load_s": ("setup_s", _ALL),
    "setup.warmup_s": ("setup_s", _ALL),
    "dialect.translate_s": ("query_p50_s", "presto_sql"),
    "dialect.expansion": ("query_p50_s", "presto_sql"),
    "engine.sql_s": ("query_p50_s", "presto_sql"),
    "catalyst.analysis_s": ("query_p50_s", "presto_sql"),
    "catalyst.optimization_s": ("query_p50_s", "presto_sql"),
    "catalyst.planning_s": ("query_p50_s", "presto_sql"),
    "functions.python_s": ("query_tail_s", "presto_sql"),
    "functions.python_boot_s": ("query_tail_s", "presto_sql"),
    "functions.python_rows": ("query_tail_s", "presto_sql"),
    "queries.build_s": ("query_p50_s", "olap_tpch"),
    "exec.action_s": ("queries_per_s", "olap_tpch"),
    "exec.tasks": ("queries_per_s", "olap_tpch"),
    "exec.task_run_s": ("queries_per_s", "olap_tpch"),
    "exec.slot_util": ("queries_per_s", "olap_tpch"),
    "exec.shuffle_bytes": ("queries_per_s", "olap_tpch"),
    "exec.spill_bytes": ("queries_per_s", "olap_tpch"),
    "sources.scan_bytes": ("queries_per_s", "olap_tpch"),
    "exec.rows_read_per_row_out": ("queries_per_s", "olap_tpch"),
    "exec.sql_executions": ("queries_per_s", "olap_tpch"),
    "exec.jobs": ("queries_per_s", "olap_tpch"),
    "exec.stages": ("queries_per_s", "olap_tpch"),
    "driver.gap_s": ("queries_per_s", "olap_tpch"),
    # no kept workload calls operators.materialize: these read 0 until one does
    "operators.materialize_calls": ("queries_per_s peak_rss_mb", "none"),
    "operators.materialize_s": ("queries_per_s peak_rss_mb", "none"),
    "engine.leaked_frames": ("ok_frac", _ALL),
    "trace.overhead_frac": ("none (traced run only)", _ALL),
    "trace.jobs_without_end": ("none (span cross-check)", _ALL),
}


def load_spec(path: str = SPEC_PATH) -> dict:
    with open(path) as f:
        return json.load(f)


def declared(spec: dict, trace: bool) -> dict[str, str]:
    """Metric name -> unit that a run with ``trace`` must print."""
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def end_to_end(setup_s: float, durations: list[float], failed: int, attempted: int,
               timed_s: float, rss_mb: float) -> dict[str, float]:
    """The end-to-end values of an untraced run.  The tail is the slowest
    query: a run times 12 to 22 queries, too few for a percentile with ten
    samples beyond it to lie above the median."""
    return {
        "setup_s": setup_s,
        "query_p50_s": statistics.median(durations),
        "query_tail_s": max(durations),
        "queries_per_s": len(durations) / timed_s,
        "ok_frac": 1.0 - failed / attempted,
        "peak_rss_mb": rss_mb,
    }


def result_line(correct: bool, attempted: int, failed: int, values: dict[str, float],
                units: dict[str, str]) -> dict:
    """The final JSON object: exactly the declared metrics, by name and unit."""
    missing = sorted(set(units) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
