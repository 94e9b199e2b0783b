#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload olap_tpch --seed 1 --seconds 15 --trace 0

Run from the repository root.  One process, one client, closed loop;
Spark runs as ``local[nproc]`` with ``SPARK_GRAFT_CPUS=nproc``.  A run:

1. generates (or reuses) the seeded input tables (datagen.py), outside
   ``setup_s``;
2. sets up: SparkSession (``session.get_spark``), ``Engine(...)``,
   query-catalog import, then one untimed pass over every distinct
   query, which is also the output check against DuckDB
   (``testing.duckdb_oracle``/``compare``); DuckDB's own time is not
   part of ``setup_s``;
3. runs the workload's fixed number of rounds over the seeded query
   list (``workloads.Workload.rounds``) and checks each output row count
   against the check pass;
4. closes the engine, counts leaked frames, stops Spark and removes its
   working directory.

The timed phase is a fixed amount of work, sized to about
BENCHMARK.json's ``run_seconds`` on a 4-core machine; ``--seconds`` is
accepted for the runner's interface and recorded, and does not change
the work.  ``--trace 0`` prints the end-to-end metrics.  ``--trace 1``
runs each unit of the rounds twice, untraced and traced in alternating
order; it prints the per-layer metrics, and ``trace.overhead_frac``
compares the two sides.

Times are *full-share* seconds: the wall time of an interval scaled by
busy / (busy + steal), the share of the CPU time this machine's runnable
threads asked for that the host granted (/proc/stat).  On a shared host
the steal share moves from run to run, and with it raw wall times swing
by a third or more; the engine's own cost does not.  The raw wall values
are printed beside them.

The last stdout line is the result JSON; the line before it carries the
machine state and the details of the run.  A record with every span is
written to ``perfbench/.runs/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T0 = time.time()

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import metrics as M  # noqa: E402
from spans import SparkState, Tracer, attach_jobs, catalyst_phases, install, self_times  # noqa: E402
from workloads import WORKLOADS, statements  # noqa: E402

DRIVER_MEM = "3g"
# per-layer values measured outside the traced rounds (Bench.layer)
SETUP_LAYERS = ("session.start_s", "engine.register_s", "queries.load_s", "setup.warmup_s",
                "engine.leaked_frames")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=0.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cpu_stat() -> tuple[int, int]:
    """(busy, steal) clock ticks of the whole machine from /proc/stat:
    busy is user + nice + system + irq + softirq over every CPU."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


def _mark() -> tuple[float, int, int]:
    return (time.time(), *_cpu_stat())


def _full_share(a: tuple[float, int, int], b: tuple[float, int, int]) -> float:
    """Wall seconds from mark ``a`` to mark ``b`` scaled by the share of
    the demanded CPU time that the host granted: busy / (busy + steal)."""
    busy, steal = b[1] - a[1], b[2] - a[2]
    return (b[0] - a[0]) * (busy / (busy + steal) if busy + steal else 1.0)


def _cpu_ticks(pid) -> int:
    """utime + stime of process ``pid`` in clock ticks."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def _hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class _Rows:
    """The shape ``testing.compare`` reads (columns, collect) over rows
    already fetched, so the Spark and DuckDB sides are timed apart."""

    def __init__(self, columns, rows):
        self.columns = list(columns)
        self._rows = rows

    def collect(self):
        return self._rows


class Bench:
    def __init__(self, args, data_dir: str, work: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.data_dir = data_dir
        self.work = work
        self.units = statements(args.workload, args.seed)
        self.tracer = Tracer(False)
        self.layer: dict[str, float] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.expected_rows: dict[str, int] = {}

    # --- set-up ---------------------------------------------------------

    def setup(self) -> None:
        t = time.time()
        from prestodb_presto_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            f"perfbench-{self.wl.name}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # a fixed heap size and young generation: G1 otherwise
                # grows the heap when GC pauses run long, which a busy
                # host causes, and peak RSS then jumps by ~500 MB
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -Xmn512m",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.time() - t

        t = time.time()
        from prestodb_presto_spark.engine import Engine

        self.engine = Engine(self.spark, self.data_dir)
        self.layer["engine.register_s"] = time.time() - t

        t = time.time()
        from prestodb_presto_spark.queries import load_all

        self.specs = load_all()
        self.layer["queries.load_s"] = time.time() - t

    def check_pass(self) -> float:
        """Run every distinct unit once, compare with DuckDB; returns the
        DuckDB seconds (excluded from set-up)."""
        from prestodb_presto_spark.testing import compare, duckdb_oracle

        con = duckdb_oracle(self.data_dir)
        cache = self.spark._jsparkSession.sharedState().cacheManager()
        warm = oracle = 0.0
        try:
            for unit in self.units:
                self.attempted += 1
                t = time.time()
                try:
                    cols, rows = self._run_checked(unit)
                except Exception as exc:  # a failing query is counted, not fatal
                    warm += time.time() - t
                    self._fail(unit.name, "check", exc)
                    continue
                warm += time.time() - t
                t = time.time()
                oracle_sql = unit.duckdb if unit.duckdb else self.specs[unit.name].oracle
                err = None
                if oracle_sql is not None:
                    err = compare(_Rows(cols, rows), con, oracle_sql)
                if err is None and not cache.isEmpty():
                    err = "left a CacheManager entry"
                oracle += time.time() - t
                if err is not None:
                    self.failures.append(f"{unit.name}: check: {err}")
                    continue
                self.expected_rows[unit.name] = len(rows)
        finally:
            con.close()
        self.layer["setup.warmup_s"] = warm
        return oracle

    def _run_checked(self, unit):
        """One unit with its result collected."""
        if unit.presto is not None:
            df = self.engine.sql(unit.presto, dialect="presto")
        else:
            df = self.specs[unit.name].spark_fn(self.spark, self.data_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    # --- timed loop -----------------------------------------------------

    def run_unit(self, unit) -> int:
        """Build plus action for one unit; returns the output row count."""
        tr = self.tracer
        if unit.presto is not None:
            with tr.span("engine.sql"):
                df = self.engine.sql(unit.presto, dialect="presto")
            self._plan(df)
            with tr.span("exec.action"):
                return len(df.collect())
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        with tr.span("queries.build"):
            df = self.specs[unit.name].spark_fn(self.spark, self.data_dir)
        self._plan(df)
        obs = Observation()
        counted = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        with tr.span("exec.action"):
            counted.write.format("noop").mode("overwrite").save()
        return int(obs.get["rows"])

    def _plan(self, df) -> None:
        """Traced run only: plan ``df``'s own QueryExecution and keep its
        Catalyst phase times.  A collect reuses that plan; the noop write
        plans its own command again, which the traced time includes."""
        with self.tracer.span("catalyst.plan") as sp:
            if sp is not None:
                df._jdf.queryExecution().executedPlan()
                sp.attrs.update(catalyst_phases(df))

    def timed(self, rounds: int, trace: bool) -> tuple[list[tuple[str, float, float, bool]], tuple]:
        """Closed loop over the unit list, ``rounds`` whole passes.  With
        ``trace`` each unit runs twice, untraced and traced, the first of
        the two alternating, so neither side gains from running later.
        Returns (unit, wall s, full-share s, traced) per completed run and
        the marks that open and close the phase."""
        done = []
        state = SparkState(self.spark) if trace else None
        start = _mark()
        for k, unit in enumerate(self.units * rounds):
            for traced in ((k % 2 == 1, k % 2 == 0) if trace else (False,)):
                self.tracer.enabled = traced
                result = self._timed_unit(unit, self.attempted + 1, state if traced else None)
                if result is not None:
                    done.append((*result, traced))
        self.tracer.enabled = False
        return done, (start, _mark())

    def _timed_unit(self, unit, i: int, state) -> tuple[str, float, float] | None:
        """One unit, checked against the check pass's row count.  A traced
        unit's time includes reading Spark's status stores after it."""
        self.attempted += 1
        sc = self.spark.sparkContext
        if state is not None:
            self.tracer.query = i
            sc.setJobGroup(f"q{i}", unit.name)
        start = _mark()
        try:
            with self.tracer.span("query", unit=unit.name) as root:
                rows = self.run_unit(unit)
        except Exception as exc:  # counted as failed, the loop goes on
            self._fail(unit.name, "timed", exc)
            return None
        finally:
            if state is not None:
                sc.setJobGroup("", "")
        if rows != self.expected_rows.get(unit.name):
            self.failures.append(
                f"{unit.name}: {rows} rows, check pass had {self.expected_rows.get(unit.name)}"
            )
            return None
        if state is not None:
            state.drain()
            root.attrs.update(state.executions())
            jobs = state.jobs(f"q{i}")
            root.attrs["jobs"] = jobs
            root.attrs["jobs_without_end"] = attach_jobs(self.tracer, root, jobs)
            root.attrs["rows_out"] = rows
        end = _mark()
        return unit.name, end[0] - start[0], _full_share(start, end)

    def _fail(self, name: str, phase: str, exc: BaseException) -> None:
        self.failures.append(f"{name}: {phase}: {type(exc).__name__}: {str(exc)[:300]}")
        traceback.print_exc(file=sys.stderr)

    # --- teardown -------------------------------------------------------

    def close(self) -> dict:
        """Close the engine, count what it left behind, stop Spark and
        wait for the JVM to exit.  Returns the final process facts (none
        when set-up failed part way)."""
        facts = {}
        if hasattr(self, "engine"):
            self.engine.close()
            sc = self.spark.sparkContext
            # An RDD nothing references any more (the localCheckpoint of a
            # finished query) is dropped by Spark's ContextCleaner after a
            # JVM GC; only frames still held after that have leaked.
            gc.collect()
            sc._jvm.System.gc()
            deadline = time.time() + 5.0
            while (leaked := self._frames()) and time.time() < deadline:
                time.sleep(0.2)
            facts = {
                "leaked_frames": leaked,
                "master": sc.master,
                "default_parallelism": sc.defaultParallelism,
                "jvm_hwm_kb": _hwm_kb(sc._jvm.java.lang.ProcessHandle.current().pid()),
                "py_hwm_kb": _hwm_kb("self"),
            }
        _stop_spark()
        return facts


    def _frames(self) -> int:
        """CacheManager entries plus persisted RDDs in the session."""
        jsession = self.spark._jsparkSession
        return int(not jsession.sharedState().cacheManager().isEmpty()) + int(
            self.spark.sparkContext._jsc.getPersistentRDDs().size())


def _stop_spark() -> None:
    """Stop the active SparkContext, if any, and wait for its JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=30)


def per_layer(bench: Bench, overhead: float) -> dict[str, float]:
    """Per-layer values from the traced rounds' spans (per executed unit)."""
    spans = bench.tracer.spans
    st = self_times(spans)
    roots = [s for s in spans if s.name == "query"]
    n = max(1, len(roots))
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])

    def self_sum(name):
        return sum(st[s.id] for s in spans if s.name == name)

    def attr_sum(name, attr):
        return sum(s.attrs.get(attr, 0) for s in spans if s.name == name)

    jobs = [j for r in roots for j in r.attrs.get("jobs", [])]

    def job_sum(key):
        return sum(j[key] for j in jobs)

    action_s = sum(s.end - s.start for s in spans if s.name == "exec.action")
    covered = sum(s.end - s.start for s in spans if s.name == "spark.job")
    wall = sum(r.end - r.start for r in roots)
    rows_out = attr_sum("query", "rows_out")
    chars_in = attr_sum("dialect.translate", "chars_in")
    out = dict(bench.layer)
    out.update(
        {
            "dialect.translate_s": self_sum("dialect.translate") / n,
            "dialect.expansion": attr_sum("dialect.translate", "chars_out") / chars_in if chars_in else 0.0,
            "engine.sql_s": self_sum("engine.sql") / n,
            "catalyst.analysis_s": attr_sum("catalyst.plan", "analysis") / n,
            "catalyst.optimization_s": attr_sum("catalyst.plan", "optimization") / n,
            "catalyst.planning_s": attr_sum("catalyst.plan", "planning") / n,
            "functions.python_s": attr_sum("query", "python_s") / n,
            "functions.python_boot_s": attr_sum("query", "python_boot_s") / n,
            "functions.python_rows": attr_sum("query", "python_rows") / n,
            "queries.build_s": self_sum("queries.build") / n,
            "exec.action_s": action_s / n,
            "exec.tasks": job_sum("tasks") / n,
            "exec.task_run_s": job_sum("task_run_s") / n,
            "exec.slot_util": job_sum("task_run_s") / (action_s * cpus) if action_s else 0.0,
            "exec.shuffle_bytes": job_sum("shuffle_bytes") / n,
            "exec.spill_bytes": job_sum("spill_bytes") / n,
            "sources.scan_bytes": job_sum("input_bytes") / n,
            "exec.rows_read_per_row_out": job_sum("input_rows") / max(1, rows_out),
            "exec.sql_executions": attr_sum("query", "sql_executions") / n,
            "exec.jobs": len(jobs) / n,
            "exec.stages": job_sum("stages") / n,
            "driver.gap_s": (wall - covered) / n,
            "operators.materialize_calls": sum(1 for s in spans if s.name == "operators.materialize") / n,
            "operators.materialize_s": self_sum("operators.materialize") / n,
            "trace.overhead_frac": overhead,
            "trace.jobs_without_end": float(attr_sum("query", "jobs_without_end")),
        }
    )
    return out


def main(argv=None) -> int:
    start = _mark()
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "prestodb_presto_spark")):
        print(f"perfbench: no engine package next to {BENCH}; run from a full checkout",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(BENCH, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    tempfile.tempdir = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    os.chdir(work)
    try:
        return _run(args, nproc, work, start)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, nproc: int, work: str, start: tuple[float, int, int]) -> int:
    import datagen

    t = time.time()
    data_dir = datagen.dataset(os.path.join(BENCH, ".data"), WORKLOADS[args.workload].sf,
                               args.seed, nproc)
    gen_s = time.time() - t

    bench = Bench(args, data_dir, work)
    load_before = os.getloadavg()[0]
    rounds = bench.wl.rounds
    overhead = 0.0
    tick = os.sysconf("SC_CLK_TCK")
    try:
        bench.setup()
        oracle_s = bench.check_pass()
        ready = _mark()
        wall_setup_s = ready[0] - T0 - gen_s - oracle_s
        setup_s = wall_setup_s * _full_share(start, ready) / (ready[0] - start[0])
        jvm = bench.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        cpu0 = _cpu_ticks(jvm) + _cpu_ticks("self")
        if args.trace:
            install(bench.tracer)
            done, phase = bench.timed(rounds, trace=True)
            bench.tracer.unwrap()
            plain = [d[2] for d in done if not d[3]]
            traced = [d[2] for d in done if d[3]]
            if plain and traced:  # 1 - queries_per_s traced / untraced
                overhead = 1.0 - statistics.mean(plain) / statistics.mean(traced)
            done = [d for d in done if not d[3]]
        else:
            done, phase = bench.timed(rounds, trace=False)
        timed_cpu_s = (_cpu_ticks(jvm) + _cpu_ticks("self") - cpu0) / tick
    finally:
        t = time.time()
        facts = bench.close()
        close_s = time.time() - t
    # machine state over the timed phase, as bench.py records it
    timed_wall_s = phase[1][0] - phase[0][0]
    steal_pct = 100.0 * (phase[1][2] - phase[0][2]) / (timed_wall_s * nproc * tick)
    timed_s = _full_share(*phase)
    bench.layer["engine.leaked_frames"] = float(facts["leaked_frames"])
    if facts["leaked_frames"]:
        bench.failures.append(f"Engine.close left {facts['leaked_frames']} cached frames")
    failed = len(bench.failures)
    walls, durations = [d[1] for d in done], [d[2] for d in done]
    rss_mb = (facts["jvm_hwm_kb"] + facts["py_hwm_kb"]) / 1024.0
    if not durations:
        print(json.dumps({"error": "no query completed", "failures": bench.failures}),
              file=sys.stderr)
        return 1
    if args.trace:
        values = per_layer(bench, overhead)
    else:
        values = M.end_to_end(setup_s, durations, failed, bench.attempted, timed_s, rss_mb)
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": nproc, "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "spark_master": facts["master"], "default_parallelism": facts["default_parallelism"],
        "load_avg_1m": load_before, "steal_pct": round(steal_pct, 2),
        "data_gen_s": gen_s, "oracle_s": oracle_s, "rounds": rounds,
        "seconds_arg": args.seconds, "timed_cpu_s": timed_cpu_s, "close_s": close_s,
        "tail_samples": len(durations),
        "wall": M.end_to_end(wall_setup_s, walls, failed, bench.attempted, timed_wall_s, rss_mb),
        "failed_frac": failed / bench.attempted, "failures": bench.failures[:20],
        "leaked_frames": facts["leaked_frames"],
        "jvm_hwm_mb": facts["jvm_hwm_kb"] / 1024.0, "py_hwm_mb": facts["py_hwm_kb"] / 1024.0,
    }
    record = dict(info, values=values, durations=done,
                  spans=[vars(s) for s in bench.tracer.spans])
    runs = os.path.join(BENCH, ".runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, default=str)
    print(json.dumps({"info": info}))
    correct = failed == 0
    units = M.declared(M.load_spec(), bool(args.trace))
    print(json.dumps(M.result_line(correct, bench.attempted, failed, values, units)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
