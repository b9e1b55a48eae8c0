#!/usr/bin/env python3
"""The repo's benchmark: one workload, one closed-loop client, every output
checked against its DuckDB oracle.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The seed sets the order of operations in each
pass and, for the Zipf corpus, generates the input; the engine only sees
the input tables. After two warm passes (part of ``setup_s``), passes run back to back
until ``--seconds`` have elapsed: one client that sends the next operation
only when the previous one has returned, on ``local[$SPARK_GRAFT_CPUS]``
(default: the CPUs this process may use).

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` interleaves
traced and untraced passes and reports the per-layer metrics, including
the tracing overhead (traced minus untraced pass time). The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``; the
line before it is the full report (host fingerprint, per-operation
medians, every metric of the run). The exit code is 1 when any operation
raised or returned a wrong result.

Everything a run writes (inputs, warehouse tables, Spark local and temp
dirs) goes under ``.perfbench_work/`` in the repository root and is
removed at exit, except the report (and the spans of a traced run) in
``.perfbench_work/results/``.
"""

from __future__ import annotations

import time

_T_LOADED = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

from spans import Tracer, fetch_rest, job_counters, job_tag  # noqa: E402

#: Percentiles op_tail_s may report: the highest one with at least ten
#: samples beyond it is used.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10
#: Full passes at the target scale before timing starts. On a 4-core host
#: the first pass in a JVM costs 2.5-4x a warm one, and after only one warm
#: pass the first timed passes of warehouse_refresh still ran up to 1.6x
#: slower than the last.
WARM_PASSES = 2


def process_start() -> float:
    """``perf_counter`` reading at the moment this process started."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return _T_LOADED


def remove_stale_work() -> None:
    """Delete the work dirs of runs whose process is gone (killed runs)."""
    if not os.path.isdir(WORK_ROOT):
        return
    for name in os.listdir(WORK_ROOT):
        pid = name.removeprefix("run-")
        if name.startswith("run-") and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK_ROOT, name), ignore_errors=True)


def configure_env(work: str) -> None:
    """Point every file Spark, the JVM and Python create into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),  # = Runner.warehouse
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run attributes every job of the run from the REST API
        # after the last pass, so nothing may age out of the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot; steal is time the
    hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the Spark JVM and any Python workers it started.
    Time the hypervisor steals is not charged to a process, so this
    moves far less than wall time when the host is contended."""
    stats: dict[int, tuple[int, int]] = {}  # pid -> (ppid, cpu ticks)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        stats[int(name)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    todo, ticks = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def codegen_counters(spark) -> tuple[int, float]:
    """(classes compiled, compile ms) since the JVM started."""
    jvm = spark._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(count), nanos / 1e6


def git_state() -> tuple[str | None, bool | None]:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))

    def git(*args: str) -> str | None:
        try:
            r = subprocess.run(["git", "--no-optional-locks", *args], cwd=ROOT, env=env,
                               capture_output=True, text=True, timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            return None
        return r.stdout if r.returncode == 0 else None

    head = git("rev-parse", "HEAD")
    status = git("status", "--porcelain", "--untracked-files=no")
    return (head.strip() if head else None), (bool(status.strip()) if status is not None else None)


@dataclass
class OpRecord:
    name: str
    latency: float | None  # None when the operation raised
    output: object = None  # pandas frame of a plans op
    error: str | None = None
    failed: bool = False


@dataclass
class PassRecord:
    traced: bool
    number: int
    wall: float = 0.0
    ops: list[OpRecord] = field(default_factory=list)
    span_id: int | None = None
    compiles: int = 0
    cpu: float = 0.0

    @property
    def ok(self) -> bool:
        return all(not o.failed for o in self.ops)


class Runner:
    """Runs passes of one workload in one session (closed loop, one client)."""

    def __init__(self, spark, workload, work: str, data: str, tracer: Tracer) -> None:
        from ecommerce_etl_pipeline_spark.llmops import dedup
        from ecommerce_etl_pipeline_spark.sources.io import write_table

        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.data = data
        self.warehouse = os.path.join(work, "warehouse")
        self.tracer = tracer
        self.pass_no = 0
        self.write_table = write_table
        self.dedup = dedup
        self.written: dict[str, list[str]] = {}  # pipelines op -> its tables
        self.retained_rdds = 0
        self.candidates = None  # the last traced minhash_candidate_pairs frame

    def group(self, op, phase: str) -> str:
        return f"{self.workload.name}:{op.name}:{phase}"

    def _set_group(self, op, phase: str) -> None:
        group = self.group(op, phase)
        self.sc.setJobGroup(group, job_tag(group, self.pass_no))

    def run_op(self, op, setup: bool) -> OpRecord:
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            with tr.span("op", op.name):
                self._set_group(op, "setup" if setup else "build")
                with tr.span(f"{op.layer}.build"):
                    built = op.build(self.spark, self.data)
                self._set_group(op, "setup" if setup else "run")
                output = self._act(op, built)
            rec = OpRecord(op.name, time.perf_counter() - t0, output)
        except Exception:  # an operation failure is counted; the run goes on
            rec = OpRecord(op.name, None, error=traceback.format_exc(), failed=True)
        if tr.enabled:
            self.retained_rdds = max(self.retained_rdds,
                                     len(self.sc._jsc.getPersistentRDDs()))
        self.spark.catalog.clearCache()
        return rec

    def _plan(self, df) -> None:
        """Traced runs only: analysis, optimisation and physical planning,
        forced ahead of the action so Catalyst gets its own span."""
        if self.tracer.enabled:
            with self.tracer.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()

    def _act(self, op, built):
        tr = self.tracer
        if op.layer == "pipelines":
            self.written[op.name] = list(built)
            for table, df in built.items():
                self._plan(df)
                with tr.span("sources.write"):
                    self.write_table(df, table)
            return None
        self._plan(built)
        with tr.span("exec.action"):
            return built.toPandas()

    def _traced_minhash(self):
        real = self.dedup.minhash_candidate_pairs

        def minhash_candidate_pairs(*args, **kwargs):
            with self.tracer.span("llmops.dedup"):
                cand = real(*args, **kwargs)
            self.candidates = cand
            return cand

        return minhash_candidate_pairs

    def run_pass(self, ops, *, traced: bool = False, setup: bool = False) -> PassRecord:
        from unittest import mock

        self.pass_no += 1
        self.tracer.enabled = traced
        rec = PassRecord(traced, self.pass_no)
        c0 = codegen_counters(self.spark)[0]
        cpu0 = tree_cpu_s()
        minhash = (mock.patch.object(self.dedup, "minhash_candidate_pairs",
                                     self._traced_minhash())
                   if traced else contextlib.nullcontext())
        with self.tracer.span("pass") as span, minhash:
            rec.span_id = span.id if span is not None else None
            t0 = time.perf_counter()
            for op in ops:
                rec.ops.append(self.run_op(op, setup))
            rec.wall = time.perf_counter() - t0
        self.tracer.enabled = False
        rec.cpu = tree_cpu_s() - cpu0
        rec.compiles = codegen_counters(self.spark)[0] - c0
        return rec


# ---------------------------------------------------------------------------
# output checks


def oracle_frame(sql: str, data_dir: str):
    """The oracle's result over the tables the workload's input holds."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM '{path}'")
        return con.sql(sql).df()
    finally:
        con.close()


def mismatch(got, want, want_rows: list) -> str | None:
    """Why ``got`` differs from the oracle frame ``want``, whose canonical
    rows are ``want_rows`` (None if equal)."""
    from tests.oracle import canon_rows, dtype_mismatches

    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    bad = dtype_mismatches(got, want)
    if bad:
        return f"dtype classes {bad}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    if canon_rows(got) != want_rows:
        return "values differ"
    return None


def check_outputs(runner: Runner, passes: list[PassRecord]) -> dict[str, str]:
    """Mark every operation whose output differs from its oracle as failed;
    returns op name -> reason. Pipelines ops write their tables, which each
    pass overwrites, so the tables the last pass left are read back and
    stand for every pass."""
    from ecommerce_etl_pipeline_spark.plans import all_oracles
    from tests.oracle import canon_rows

    import workloads

    oracles = all_oracles()
    reasons: dict[str, str] = {}
    for op in runner.workload.ops:
        want = oracle_frame(oracles[op.oracle], runner.data)
        want_rows = canon_rows(want)
        records = [r for p in passes for r in p.ops if r.name == op.name and not r.failed]
        if op.layer == "pipelines":
            if not records:
                continue
            tables = {t: runner.spark.table(t) for t in runner.written[op.name]}
            with workloads.pipeline_returns(op, tables):
                got = op.twin(runner.spark, runner.data).toPandas()
            why = mismatch(got, want, want_rows)
            if why:
                reasons[op.name] = why
                for r in records:
                    r.failed = True
            continue
        for r in records:
            why = mismatch(r.output, want, want_rows)
            if why:
                reasons[op.name] = why
                r.failed = True
            r.output = None
    return reasons


# ---------------------------------------------------------------------------
# metrics


def tail(latencies: list[float]) -> dict:
    """The highest percentile of TAIL_LADDER with >= MIN_BEYOND samples
    beyond it (value None when there are too few samples for any)."""
    n = len(latencies)
    ps = [p for p in TAIL_LADDER if n * (1 - p / 100) >= MIN_BEYOND]
    if not ps:
        return {"value": None, "percentile": None, "samples": n}
    p = ps[-1]
    return {"value": float(np.percentile(latencies, p)), "percentile": p, "samples": n,
            "beyond": n * (1 - p / 100)}


def warehouse_bytes(warehouse: str, tables: list[str]) -> tuple[int, int]:
    """(bytes on disk, data files) of the written tables."""
    size = files = 0
    for t in tables:
        for dirpath, _, names in os.walk(os.path.join(warehouse, t)):
            for n in names:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += not n.startswith((".", "_"))
    return size, files


def stored_bytes_ratio(runner: Runner) -> float:
    """Bytes on disk of the written tables per byte of input parquet the
    DAGs read (the warehouse workload's input holds exactly those five
    tables)."""
    written = [t for ts in runner.written.values() for t in ts]
    read = sum(os.path.getsize(os.path.join(runner.data, f))
               for f in os.listdir(runner.data) if f.endswith(".parquet"))
    return warehouse_bytes(runner.warehouse, written)[0] / read


def median_latency(passes: list[PassRecord], name: str | None = None) -> float | None:
    """Median latency of the successful operations (named ``name``, or all)."""
    lat = [o.latency for p in passes for o in p.ops
           if not o.failed and name in (None, o.name)]
    return statistics.median(lat) if lat else None


def end_to_end(setup_s: float, passes: list[PassRecord], rss_mb: float) -> dict:
    good = [p for p in passes if p.ok] or passes
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(p.wall for p in good), "s"),
        "pass_cpu_s": (statistics.median(p.cpu for p in good), "s"),
        "op_p50_s": (median_latency(passes), "s"),
        "rss_peak_mb": (rss_mb, "MB"),
    }


def per_layer(runner: Runner, traced: list[PassRecord], untraced: list[PassRecord],
              session_s: float, setup_compiles: tuple[int, float]) -> dict:
    tr = runner.tracer
    jobs, stages = fetch_rest(runner.spark)
    n = len(traced)
    pass_total = sum(p.wall for p in traced)

    def share(seconds: float) -> float:
        return 100.0 * seconds / pass_total

    self_s: dict[str, float] = {}
    for p in traced:
        for s in tr.descendants(tr.spans[p.span_id]):
            self_s[s.name] = self_s.get(s.name, 0.0) + tr.self_time(s)
    by_tag: dict[str, set[int]] = {}
    for j in jobs.values():
        by_tag.setdefault(j.get("description") or "", set()).add(j["jobId"])
    job_ids: dict[str, set[int]] = {"plans.build": set(), "pipelines.build": set(), "run": set()}
    for p in traced:
        for op in runner.workload.ops:
            job_ids[f"{op.layer}.build"] |= by_tag.get(
                job_tag(runner.group(op, "build"), p.number), set())
            job_ids["run"] |= by_tag.get(job_tag(runner.group(op, "run"), p.number), set())
    counters = {k: job_counters(v, jobs, stages) for k, v in job_ids.items()}
    every = job_counters(set().union(*job_ids.values()), jobs, stages)
    action_s = self_s.get("exec.action", 0.0) + self_s.get("sources.write", 0.0)

    written = [t for ts in runner.written.values() for t in ts]
    on_disk, files = warehouse_bytes(runner.warehouse, written)
    cands = verified = 0
    if runner.candidates is not None:
        from pyspark.sql import functions as F

        runner.sc.setJobGroup(f"{runner.workload.name}:trace", "trace counts")
        cand = runner.candidates
        cands = cand.count()
        verified = cand.filter(F.col("jaccard") >= 0.5).count()
    traced_med = statistics.median(p.wall for p in traced)
    return {
        "session.start_s": (session_s, "s"),
        "codegen.compile_count": (setup_compiles[0], "count"),
        "codegen.compile_ms": (setup_compiles[1], "ms"),
        "codegen.pass_compile_count": (sum(p.compiles for p in traced) / n, "count"),
        "plans.build_share": (share(self_s.get("plans.build", 0.0)), "%"),
        "plans.eager_jobs": (counters["plans.build"]["jobs"] / n, "count"),
        "plans.eager_job_share": (share(counters["plans.build"]["job_ms"] / 1000), "%"),
        "pipelines.build_share": (share(self_s.get("pipelines.build", 0.0)), "%"),
        "pipelines.eager_jobs": (counters["pipelines.build"]["jobs"] / n, "count"),
        "catalyst.plan_s": (self_s.get("catalyst.plan", 0.0) / n, "s"),
        "catalyst.plan_share": (share(self_s.get("catalyst.plan", 0.0)), "%"),
        "exec.action_s": (action_s / n, "s"),
        "exec.action_share": (share(action_s), "%"),
        "exec.jobs": (every["jobs"] / n, "count"),
        "exec.stages": (every["stages"] / n, "count"),
        "exec.tasks": (every["tasks"] / n, "count"),
        "exec.executor_run_ms": (every["executor_run_ms"] / n, "ms"),
        "exec.executor_cpu_ms": (every["executor_cpu_ns"] / n / 1e6, "ms"),
        "exec.gc_ms": (every["gc_ms"] / n, "ms"),
        "exec.spill_bytes": ((every["memory_spill_bytes"] + every["disk_spill_bytes"]) / n,
                             "bytes"),
        "exec.shuffle_write_bytes": (every["shuffle_write_bytes"] / n, "bytes"),
        "exec.shuffle_read_bytes": (every["shuffle_read_bytes"] / n, "bytes"),
        "exec.input_bytes": (every["input_bytes"] / n, "bytes"),
        "sources.write_share": (share(self_s.get("sources.write", 0.0)), "%"),
        "sources.bytes_written": (on_disk, "bytes"),
        "sources.files_written": (files, "count"),
        "sources.rows_written": (counters["run"]["output_records"] / n, "count"),
        "sources.stored_bytes_ratio": (stored_bytes_ratio(runner) if written else 0.0, "ratio"),
        "llmops.dedup_share": (share(self_s.get("llmops.dedup", 0.0)), "%"),
        "llmops.dedup.candidate_pairs": (cands, "count"),
        "llmops.dedup.verified_pairs": (verified, "count"),
        "llmops.dedup.pair_yield": (verified / cands if cands else 0.0, "ratio"),
        "cache.retained_rdds": (runner.retained_rdds, "count"),
        "trace.pass_s": (traced_med, "s"),
        "trace.overhead_s": (traced_med - statistics.median(p.wall for p in untraced), "s"),
    }


# ---------------------------------------------------------------------------
# one run


def run(workload, seed: int, seconds: float, trace: bool, *, tiny: bool = False) -> dict:
    """One benchmark run; returns the report (see the module docstring)."""
    t_start = process_start()
    load_start = os.getloadavg()
    remove_stale_work()
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    os.makedirs(work)
    configure_env(work)
    try:
        t0 = time.perf_counter()
        data = workload.make_inputs(work, seed, tiny)
        gen_s = time.perf_counter() - t0

        from ecommerce_etl_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{workload.name}", extra_conf=spark_conf(work))
        session_s = time.perf_counter() - t0
        try:
            return _measure(spark, workload, work, data, seed, seconds, trace,
                            t_start, gen_s, session_s, load_start)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(spark, workload, work, data, seed, seconds, trace, t_start, gen_s,
             session_s, load_start) -> dict:
    import pyspark

    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    tracer = Tracer(False)
    runner = Runner(spark, workload, work, data, tracer)
    rng = random.Random(seed)

    warm = [runner.run_pass(workload.ops, setup=True) for _ in range(WARM_PASSES)]
    setup_s = time.perf_counter() - t_start - gen_s
    setup_compiles = codegen_counters(spark)

    passes: list[PassRecord] = []
    steal0, total0 = cpu_ticks()
    t0 = time.perf_counter()
    # traced runs interleave traced and untraced passes in whole blocks of
    # T U U T, so the warm-up drift of a run's pass times does not bias the
    # tracing overhead (traced minus untraced pass_s)
    while time.perf_counter() - t0 < seconds or (trace and len(passes) % 4):
        order = list(workload.ops)
        rng.shuffle(order)
        passes.append(runner.run_pass(order, traced=trace and len(passes) % 4 in (0, 3)))
    measured_s = time.perf_counter() - t0
    steal1, total1 = cpu_ticks()
    rss_mb = vm_hwm_mb(jvm_pid)

    t_check = time.perf_counter()
    spark.sparkContext.setJobGroup(f"{workload.name}:check", "output checks")
    # the warm passes' outputs are checked too: an operation that fails
    # there fails the run, though its timing is in no metric
    every_pass = [*warm, *passes]
    reasons = check_outputs(runner, every_pass)
    check_s = time.perf_counter() - t_check
    attempted = sum(len(p.ops) for p in every_pass)
    failed = sum(o.failed for p in every_pass for o in p.ops)
    errors = {o.name: o.error.strip().splitlines()[-1]
              for p in every_pass for o in p.ops if o.error}
    untraced = [p for p in passes if not p.traced]
    metrics = end_to_end(setup_s, untraced, rss_mb)
    if trace:
        metrics.update(per_layer(runner, [p for p in passes if p.traced], untraced,
                                 session_s, setup_compiles))
    lat = [o.latency for p in untraced for o in p.ops if not o.failed]
    head, dirty = git_state()
    report = {
        "workload": workload.name,
        "seed": seed,
        "trace": int(trace),
        "protocol": {
            "clients": 1, "loop": "closed", "task_slots": int(os.environ["SPARK_GRAFT_CPUS"]),
            "seconds": seconds, "measured_s": measured_s, "passes": len(passes),
            "pass_walls_s": [p.wall for p in passes],
            "pass_cpu_s": [p.cpu for p in passes],
            "warm_pass_s": [p.wall for p in warm], "session_start_s": session_s,
            "input_gen_s": gen_s, "check_s": check_s,
        },
        "host": {
            "nproc": len(os.sched_getaffinity(0)),
            "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "cpu_steal_share_timed": (steal1 - steal0) / max(total1 - total0, 1),
            "java": spark._jvm.System.getProperty("java.version"),
            "pyspark": pyspark.__version__,
            "git_head": head,
            "git_dirty": dirty,
        },
        "attempted": attempted,
        "failed": failed,
        "op_median_s": {op.name: median_latency(untraced, op.name) for op in workload.ops},
        "failures": {**errors, **reasons},
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    # reported beside the end-to-end metrics, but not benchmark metrics: the
    # fail ratio is 0 on a correct run, the tail needs more samples than a
    # run takes, and only warehouse_refresh stores anything
    extra = {"op_fail_ratio": {"value": failed / attempted, "unit": "ratio"},
             "op_tail_s": {**tail(lat), "unit": "s"}}
    if runner.written:
        extra["stored_bytes_ratio"] = {"value": stored_bytes_ratio(runner), "unit": "ratio"}
    report["metrics"].update(extra)
    if trace:
        report["spans"] = tracer.dump()
    return report


def result_line(report: dict, names: list[str]) -> dict:
    return {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {n: report["metrics"][n] for n in names},
    }


def benchmark_metric_names(trace: bool) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    names = benchmark_metric_names(bool(args.trace))
    report = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    os.makedirs(os.path.join(WORK_ROOT, "results"), exist_ok=True)
    out = os.path.join(WORK_ROOT, "results",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    report.pop("spans", None)
    print(json.dumps(report))
    print(json.dumps(result_line(report, names)))
    return 0 if report["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
