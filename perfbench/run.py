#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's user flows.

Run from the repository root:

    python3 perfbench/run.py --workload rdf_resolve --seed 1 --seconds 10 --trace 0

One client runs one query at a time, like a scheduled flow. Each timed pass
resets the memoized fixtures, then constructs every query of the workload
and writes its full result to Spark's ``noop`` sink, sweeping dead cached
blocks between queries. The seed only permutes the query order; the inputs
are the fixed sf0.01 tables in ``perfbench/data``.

Set-up (session start, catalog load and one warm-up pass) is timed as
``setup_s``. The warm-up pass collects every result and compares it with
the query's DuckDB oracle; that comparison is not timed. Every timed pass
checks each query's written row count against the oracle's. A run times
at least two passes and reports each query's fastest time, since other
tenants of the host can only slow a pass down.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
untimed loop, then one traced pass, and prints the per-layer metrics. See
``perfbench/README.md``.

The last line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA = os.path.join(ROOT, "perfbench", "data", "sf0.01")
LOG4J = os.path.join(ROOT, "perfbench", "log4j2.properties")
RUNS = os.path.join(ROOT, ".perfbench_run")
DRIVER_MEM = "2g"

sys.path.insert(0, ROOT)  # the perfbench package, the engine and scripts/
from perfbench import eventlog, procstat, tracing  # noqa: E402
from perfbench.tracing import PKG  # noqa: E402

# Query sets per flow; the reasons are in README.md and BENCHMARK.json.
WORKLOADS = {
    "rdf_resolve": (
        "render_person_triples", "sameas_components", "entity_resolution",
        "closure_subclass", "bgp_join", "turtle_serialize",
    ),
    "stream_monitor": (
        "stream_entity_resolution", "stream_tumbling_window", "stream_neardup_monitor",
        "stream_ann_topk_monitor",
    ),
}

# Typical seconds of one timed pass on a 4-core host. A run times
# round(--seconds / PASS_S) passes, and at least two, so every run of a
# workload measures the same work whatever the host's speed.
PASS_S = {"rdf_resolve": 6.0, "stream_monitor": 13.0}
MIN_PASSES = 2

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "plans.construct_s": "s", "plans.construct_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "plan.exchanges": "count", "plan.sorts": "count", "plan.windows": "count",
    "plan.broadcast_joins": "count", "plan.sort_merge_joins": "count",
    "plan.python_evals": "count",
    "exec.write_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.failed_tasks": "count", "exec.run_s": "s",
    "exec.cpu_s": "s", "exec.gc_s": "s", "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB", "exec.input_mb": "MB",
    "exec.task_skew": "ratio", "exec.core_util": "ratio",
    "exec.lost_accumulator_updates": "count", "exec.partial": "bool",
    "session.reset_s": "s", "session.sweep_s": "s", "session.swept_rdds": "count",
    "session.cached_mb": "MB",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "streaming.state_commit_ms": "ms", "streaming.staging_s": "s",
    "streaming.batch_p50_ms": "ms",
    **{f"{g}.calls": "count" for g in tracing.SPAN_GROUPS},
    **{f"{g}.self_s": "s" for g in tracing.SPAN_GROUPS},
    "trace.wall_s": "s", "trace.overhead_s": "s",
    **{f"q.{q}.s": "s" for names in WORKLOADS.values() for q in names},
}

QUERY_TIMEOUT_S = 60.0
RUN_DEADLINE_S = 170.0


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(run_dir: str, trace: bool) -> str:
    """Send every file Spark, the JVM and the Python workers write into
    ``run_dir``, put the repository on the workers' ``PYTHONPATH`` and, when
    tracing, turn on the uncompressed event log. Must run before the JVM
    starts. Returns the path of Spark's log file."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    log = os.path.join(run_dir, "spark.log")
    java_opts = (
        f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} "
        f"-Dlog4j2.configurationFile=file:{LOG4J} -Dperfbench.log={log}"
    )
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir=file:{os.path.join(run_dir, 'warehouse')}",
        "--driver-java-options", java_opts,
    ]
    if trace:
        events = os.path.join(run_dir, "eventlog")
        os.makedirs(events)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file:{events}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # sf0.01 needs far less than the engine's 8g default. A fixed heap (-Xms
    # above) keeps the tree's resident memory from tracking when G1 chose to
    # grow the heap, so peak_rss_mb moves with Python and off-heap memory.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, *paths])
    return log


def kill_children() -> None:
    for pid in procstat.descendants(os.getpid()):
        if pid != os.getpid():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def stop_spark(spark) -> None:
    """Stop the session, close the JVM and wait for every process it
    started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    children = [p for p in procstat.descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its standard input closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline and any(procstat.alive(p) for p in children):
        time.sleep(0.1)
    for pid in children:
        if procstat.alive(pid):
            os.kill(pid, signal.SIGKILL)


class Watchdog(threading.Thread):
    """Cancels a query that runs past ``QUERY_TIMEOUT_S`` (it then fails and
    counts as an error) and ends the process, with its children, once the
    run passes ``RUN_DEADLINE_S``."""

    def __init__(self, started: float):
        super().__init__(daemon=True)
        self.spark = None
        self._t_start = started
        self._query_t0: float | None = None
        self.timed_out = False

    def begin(self) -> None:
        self.timed_out = False
        self._query_t0 = time.monotonic()

    def end(self) -> bool:
        self._query_t0 = None
        return self.timed_out

    def run(self) -> None:
        while True:
            time.sleep(0.5)
            now = time.monotonic()
            if now - self._t_start > RUN_DEADLINE_S:
                print("perfbench: run deadline passed; stopping", file=sys.stderr, flush=True)
                kill_children()
                os._exit(3)
            t0 = self._query_t0
            if t0 is not None and not self.timed_out and now - t0 > QUERY_TIMEOUT_S:
                self.timed_out = True
                self.spark.sparkContext.cancelAllJobs()
                for q in self.spark.streams.active:
                    q.stop()


class Runner:
    """Runs one workload's queries on one session and keeps the tally of
    queries attempted and failed."""

    def __init__(self, spark, workload: str, names: list[str], queries, watchdog: Watchdog):
        from prosnet_prefect_pipelines_spark import session

        self.spark = spark
        self.session = session
        self.workload = workload
        self.names = names
        self.queries = queries
        self.watchdog = watchdog
        self.expected_rows: dict[str, int] = {}
        self.hashes: dict[str, str] = {}
        self.attempted = 0
        self.errors: list[str] = []

    def fail(self, name: str, why: str) -> None:
        self.errors.append(f"{name}: {why}")
        print(f"perfbench: FAIL {name}: {why}", file=sys.stderr, flush=True)

    def call(self, name: str, action, before_action=None):
        """Construct ``name`` and run ``action(df)``; returns
        ``(construct_s, action_s, result)``, or None after recording a
        failure."""
        self.attempted += 1
        self.watchdog.begin()
        try:
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, DATA)
            t1 = time.perf_counter()
            if before_action is not None:
                before_action(df)
            t2 = time.perf_counter()
            result = action(df)
            t3 = time.perf_counter()
        except Exception as e:  # a failing query is a benchmark error, not a crash
            self.watchdog.end()
            self.fail(name, f"{type(e).__name__}: {str(e)[:300]}")
            return None
        if self.watchdog.end():
            self.fail(name, f"timed out after {QUERY_TIMEOUT_S:.0f} s")
            return None
        return t1 - t0, t3 - t2, result

    def warm_up(self, oracles: dict[str, str], canonical) -> float:
        """Warm-up pass: collect each result and compare it with its DuckDB
        oracle on row count, schema and value hash. Returns the seconds
        spent in Spark; the comparison is left out."""
        import duckdb

        from scripts.check_correctness import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
        t0 = time.perf_counter()
        self.session.reset_memo_fixtures(self.spark)
        spark_s = time.perf_counter() - t0
        for name in self.names:
            t0 = time.perf_counter()
            self.session.sweep_persistent_rdds(self.spark)
            spark_s += time.perf_counter() - t0
            got = self.call(name, lambda df: df.toPandas())
            if got is not None:
                spark_s += got[0] + got[1]
            if name not in oracles:
                self.fail(name, "no oracle_sql twin")
                continue
            o_cols, o_rows, o_hash = canonical(con.sql(oracles[name]).df())
            self.expected_rows[name] = len(o_rows)
            if got is None:
                continue
            s_cols, s_rows, s_hash = canonical(got[2])
            self.hashes[name] = s_hash
            if len(s_rows) != len(o_rows):
                self.fail(name, f"rowcount {len(s_rows)} vs oracle {len(o_rows)}")
            elif s_cols != o_cols:
                self.fail(name, f"schema {s_cols} vs oracle {o_cols}")
            elif s_hash != o_hash:
                self.fail(name, f"value hash {s_hash} vs oracle {o_hash}")
        con.close()
        return spark_s

    def timed_pass(self, listener: tracing.StreamTrace | None = None) -> dict:
        """One pass over the workload, every result written to ``noop``.
        With a ``listener`` the pass is traced: job groups name each query
        and phase, and each query's plan and Catalyst times are recorded."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        def write_noop(df) -> int:
            obs = Observation("perfbench")
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
                "overwrite"
            ).save()
            return obs.get["rows"]

        spark, sc = self.spark, self.spark.sparkContext
        pid = os.getpid()
        rec = {"queries": {}, "sweep_s": 0.0, "swept_rdds": 0, "cached_mb": 0.0}
        cpu0 = procstat.cpu_seconds(pid)
        steal0 = procstat.host_steal_seconds()
        rss = procstat.PeakRss(pid).start()
        t_pass = time.perf_counter()
        rec["swept_rdds"] += self.session.reset_memo_fixtures(spark)
        rec["reset_s"] = time.perf_counter() - t_pass
        for name in self.names:
            if listener is not None:
                rec["cached_mb"] = max(rec["cached_mb"], tracing.storage_mb(spark))
            t0 = time.perf_counter()
            rec["swept_rdds"] += self.session.sweep_persistent_rdds(spark)
            rec["sweep_s"] += time.perf_counter() - t0
            q: dict = {}
            before = None
            if listener is not None:
                listener.query = name
                sc.setJobGroup(f"{self.workload}/{name}/construct", name)

                def before(df, q=q, name=name):
                    sc.setJobGroup(f"{self.workload}/{name}/execute", name)
                    qe = df._jdf.queryExecution()
                    q["plan"] = tracing.plan_counts(qe.executedPlan().toString())
                    q["catalyst"] = tracing.catalyst_ms(qe)

            got = self.call(name, write_noop, before)
            if listener is not None:
                listener.query = None
            if got is None:
                continue
            q.update(construct_s=got[0], write_s=got[1], rows=got[2])
            rec["queries"][name] = q
            if got[2] != self.expected_rows.get(name):
                self.fail(name, f"wrote {got[2]} rows, oracle has {self.expected_rows.get(name)}")
        if listener is not None:
            rec["cached_mb"] = max(rec["cached_mb"], tracing.storage_mb(spark))
        rec["wall_s"] = time.perf_counter() - t_pass
        rec["cpu_s"] = procstat.cpu_seconds(pid) - cpu0
        rec["host_steal_s"] = procstat.host_steal_seconds() - steal0
        rec["peak_rss_mb"] = rss.stop()
        return rec


def pass_count(workload: str, seconds: float) -> int:
    return max(MIN_PASSES, round(seconds / PASS_S[workload]))


def undisturbed_pass_s(passes: list[dict]) -> float:
    """Wall time of a pass the host did not disturb: each query's fastest
    time over the passes, plus the fastest rest (fixture reset and sweeps).
    Other tenants of the host can only slow a query, so its fastest time
    is the one least disturbed; a burst of contention has to hit every
    pass of a query to reach this sum."""
    query_s = [
        [q["construct_s"] + q["write_s"] for q in (p["queries"].get(name) for p in passes) if q]
        for name in {name for p in passes for name in p["queries"]}
    ]
    rest_s = [
        p["wall_s"] - sum(q["construct_s"] + q["write_s"] for q in p["queries"].values())
        for p in passes
    ]
    return sum(min(s) for s in query_s) + min(rest_s)


def layer_metrics(traced: dict, untraced: list[dict], spans: tracing.Spans,
                  listener: tracing.StreamTrace, exec_recs: dict, lost_updates: int,
                  cpus: int) -> dict[str, float]:
    """Per-layer metrics of the traced pass."""
    qs = traced["queries"].values()
    m: dict[str, float] = {
        "plans.construct_s": sum(q["construct_s"] for q in qs),
        "plans.construct_jobs": sum(
            r["jobs"] for (_, phase), r in exec_recs.items() if phase in ("construct", "stream")
        ),
    }
    for key in ("catalyst", "plan"):
        for q in qs:
            for k, v in q[key].items():
                m[k] = m.get(k, 0) + v
    tot = eventlog.total(exec_recs)
    m["exec.write_s"] = sum(q["write_s"] for q in qs)
    m.update({f"exec.{k}": v for k, v in tot.items()})
    m["exec.core_util"] = tot["run_s"] / (traced["wall_s"] * cpus)
    m["exec.lost_accumulator_updates"] = lost_updates
    m["exec.partial"] = int(lost_updates > 0)
    m["session.reset_s"] = traced["reset_s"]
    m["session.sweep_s"] = traced["sweep_s"]
    m["session.swept_rdds"] = traced["swept_rdds"]
    m["session.cached_mb"] = traced["cached_mb"]
    m.update(listener.metrics())
    m["streaming.staging_s"] = spans.fn_s.get(f"{PKG}.streaming.staging.replay_stage", 0.0)
    for g in tracing.SPAN_GROUPS:
        m[f"{g}.calls"] = spans.calls.get(g, 0)
        m[f"{g}.self_s"] = spans.self_s.get(g, 0.0)
    m["trace.wall_s"] = traced["wall_s"]
    m["trace.overhead_s"] = traced["wall_s"] - statistics.median(p["wall_s"] for p in untraced)
    for names in WORKLOADS.values():
        for name in names:
            q = traced["queries"].get(name)
            m[f"q.{name}.s"] = q["construct_s"] + q["write_s"] if q else 0.0
    missing = set(PER_LAYER) - set(m)
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {sorted(missing)}")
    return m


def run(args: argparse.Namespace, run_dir: str, watchdog: Watchdog) -> dict:
    t_setup = time.perf_counter()
    spark_log = configure_env(run_dir, bool(args.trace))
    spans = tracing.Spans()
    if args.trace:
        spans.install()  # before the plan modules import the layer functions
    from prosnet_prefect_pipelines_spark.plans import catalog
    from prosnet_prefect_pipelines_spark.session import get_spark
    from scripts.check_correctness import canonical

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", cpus=cpus)
    watchdog.spark = spark
    detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        queries, oracles = catalog.load()
        names = list(WORKLOADS[args.workload])
        random.Random(args.seed).shuffle(names)
        runner = Runner(spark, args.workload, names, queries, watchdog)
        pre_s = time.perf_counter() - t_setup
        # traced runs take their oracle hashes with spans on, so the self-test
        # can compare them with an untraced run's
        spans.active = bool(args.trace)
        setup_s = pre_s + runner.warm_up(oracles, canonical)
        spans.active = False

        passes = [runner.timed_pass() for _ in range(pass_count(args.workload, args.seconds))]

        traced = None
        if args.trace:
            listener = tracing.StreamTrace()
            spark.streams.addListener(listener)
            log_offset = os.path.getsize(spark_log) if os.path.exists(spark_log) else 0
            spans.reset()
            spans.active = True
            traced = runner.timed_pass(listener)
            spans.active = False
            if not listener.wait():
                runner.fail("streaming", "progress events still pending after the traced pass")
            spark.streams.removeListener(listener)
    finally:
        stop_spark(spark)

    detail.update(
        order=names, setup_s=setup_s, passes=passes, hashes=runner.hashes,
        expected_rows=runner.expected_rows, errors=runner.errors,
    )
    if args.trace:
        exec_recs = eventlog.parse(
            os.path.join(run_dir, "eventlog"), f"{args.workload}/", listener.run_query
        )
        with open(spark_log, errors="replace") as fh:
            fh.seek(log_offset)
            lost = fh.read().count("Failed to update accumulator")
        metrics = layer_metrics(traced, passes, spans, listener, exec_recs, lost, cpus)
        detail["traced"] = traced
        detail["exec"] = {f"{q}/{phase}": r for (q, phase), r in exec_recs.items()}
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": undisturbed_pass_s(passes),
            "cpu_s": min(p["cpu_s"] for p in passes),
            "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in passes),
        }
        units = END_TO_END
    detail["metrics"] = metrics
    os.makedirs(RUNS, exist_ok=True)
    with open(os.path.join(RUNS, f"{args.workload}-trace{args.trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    return {
        "correct": not runner.errors,
        "attempted": runner.attempted,
        "failed": len(runner.errors),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    needed = (os.path.join(ROOT, PKG), os.path.join(ROOT, "scripts", "check_correctness.py"), DATA)
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    watchdog = Watchdog(time.monotonic())
    watchdog.start()
    run_dir = os.path.join(RUNS, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result = run(args, run_dir, watchdog)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
