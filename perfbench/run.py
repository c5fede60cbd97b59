"""sparkjanitor benchmark: one workload per process, in its own Spark session.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload relational_sink --seed 1 --seconds 20 --trace 0

A run generates its inputs from ``--seed`` into a temporary directory,
starts a ``local[nproc]`` session, runs every operation once in an
untimed checking pass (which is also the warm-up), then runs whole timed
passes over the workload's operations, each in a seed-chosen order: at
least two, and more while the next one is expected to end within
``--seconds``.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics of
``perfbench/LAYERS.md`` with ``--trace 1``).  With ``--trace 1`` one more
pass runs traced, in a fresh SparkContext that writes its event log, and
the log is reduced onto the spans of that pass.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor
import contextlib
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TMP_ROOT = os.path.join(ROOT, ".perfbench_tmp")


def process_start() -> float:
    """perf_counter() value at which this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - age


T_PROCESS = process_start()


# -- memory ---------------------------------------------------------------

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as fh:
        return int(fh.read().split()[1]) * _PAGE_KB


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by
    n processes (forked Python workers share most of theirs) counted 1/n."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def _descendants(root_pid: int) -> list[tuple[int, int]]:
    """Every live process below ``root_pid`` with its depth below it (1
    for a child), from the /proc parent links."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):  # exited meanwhile
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [(c, 1) for c in children.get(root_pid, [])]
    while todo:
        pid, depth = todo.pop()
        out.append((pid, depth))
        todo.extend((c, depth + 1) for c in children.get(pid, []))
    return out


def _tree_rss_kb(root_pid: int) -> int:
    """Resident memory of ``root_pid`` (the driver), the JVM (its child)
    and the Python daemon and workers below the JVM.  The driver and the
    JVM share few pages with the rest of the tree, so each counts its
    RSS, read from statm: reading the JVM's PSS walks the page tables of
    its 2 GB heap (about 40 ms on 4 cores) while holding its memory map.
    The Python workers are forked from one daemon and share most of their
    pages, so each counts its PSS.  The JVM's other children are
    short-lived processes it spawns; until they exec they share the JVM's
    memory and would count it twice."""
    total = 0
    for pid, depth in [(root_pid, 0), *_descendants(root_pid)]:
        try:
            if depth <= 1:
                total += _rss_kb(pid)
            else:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().startswith("python"):
                        total += _pss_kb(pid)
        except OSError:  # exited meanwhile
            pass
    return total


class MemorySampler(threading.Thread):
    """High-water resident memory of this process and all its
    descendants (the JVM and its Python workers), sampled from /proc;
    and the high-water heap in use right after a collection (what the
    last GC left in the heap pools), which the resident figure leaves out
    because the heap is touched in full at start."""

    def __init__(self, jvm, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self.peak_heap = 0
        self._heap_pools = [
            p for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
            if p.getType().toString() == "Heap memory"
        ]
        self._stop_evt = threading.Event()

    def run(self) -> None:
        pid = os.getpid()
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            after_gc = sum(p.getCollectionUsage().getUsed() for p in self._heap_pools)
            self.peak_heap = max(self.peak_heap, after_gc)
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


# -- session --------------------------------------------------------------

def session_conf(work: str, cores: int) -> dict[str, str]:
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": "2g",
        "spark.sql.shuffle.partitions": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the whole heap is committed and touched at start, so the JVM's
        # RSS does not depend on when the collector grows the heap (heap
        # use is sampled on its own, see MemorySampler)
        "spark.driver.extraJavaOptions": (
            f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-XX:-UsePerfData -Dderby.system.home={os.path.join(work, 'derby')}"
        ),
    }


def event_log_conf(work: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": os.path.join(work, "events"),
        # zstd is the Spark 4 default and the reducer reads plain JSON
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def start_session(conf: dict[str, str], work: str):
    for d in ("local", "warehouse", "tmp", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Python workers import the package from this checkout, and
    # everything temporary stays in the run's directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers under it)
    to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


# -- statistics -----------------------------------------------------------

def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it."""
    s = sorted(samples)
    n = len(s)
    k = max(0, n - 11)
    return s[k], 100.0 * k / max(1, n - 1), n


# -- passes ---------------------------------------------------------------

class Runner:
    """Runs the passes of one workload and keeps their samples."""

    def __init__(self, ctx, workload, rng):
        self.ctx = ctx
        self.wl = workload
        self.rng = rng
        self.tracer = None  # set for the traced pass
        self.traced = False
        self.samples: list[float] = []  # operation latencies
        self.op_samples: dict[str, list[float]] = {}  # the same, per operation
        self.build_s: list[tuple[float, float]] = []  # (build, build + action) per batch op
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.progress: list[list[dict]] = []  # per stream replay

    def span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.traced else nullcontext()

    def groups(self) -> tuple[list, list]:
        """The operations of one pass as two groups: those that read only
        the generated inputs (the writes first), then the reads of what
        the writes left."""
        first = [o for o in self.wl.ops if o.writes]
        first += [o for o in self.wl.ops if not o.writes and not o.reads_back]
        return first + list(self.wl.stream), [o for o in self.wl.ops if o.reads_back]

    def order(self) -> list:
        """The operations of a timed pass: ``groups()``, each in a
        seed-chosen order."""
        first, reads = self.groups()
        self.rng.shuffle(first)
        self.rng.shuffle(reads)
        return first + reads

    def run_op(self, op) -> None:
        op.prep(self.ctx)
        t0 = time.perf_counter()
        with self.span("op", op.name):
            with self.span("build", op.name):
                df = op.build(self.ctx)
            t1 = time.perf_counter()
            with self.span("action", op.name):
                op.act(self.ctx, df)
        t2 = time.perf_counter()
        self.samples.append(t2 - t0)
        self.op_samples.setdefault(op.name, []).append(t2 - t0)
        self.build_s.append((t1 - t0, t2 - t0))
        self.attempted += 1

    def run_stream(self, op) -> None:
        from workloads import batch_seconds, build_stream, start_stream

        with self.span("op", op.name):
            with self.span("build", op.name):
                df = build_stream(self.ctx, op, op.files_per_trigger)
            with self.span("action", op.name):
                q = start_stream(self.ctx, op, df, "noop", self.tracer if self.traced else None)
        self.progress.append(list(q.recentProgress))
        lat = batch_seconds(q)
        self.samples.extend(lat)
        self.op_samples.setdefault(op.name, []).extend(lat)
        self.attempted += len(lat)

    def attempt(self, op) -> None:
        from workloads import StreamOp

        try:
            if isinstance(op, StreamOp):
                self.run_stream(op)
            else:
                self.run_op(op)
        except Exception as e:  # a failed operation is counted, not fatal
            self.failed += 1
            self.attempted += 1
            self.errors.append(f"{op.name}: {type(e).__name__}: {str(e)[:300]}")

    def one_pass(self) -> float:
        t0 = time.perf_counter()
        for op in self.order():
            self.attempt(op)
        return time.perf_counter() - t0

    def check_one(self, op, count_rows: bool) -> dict:
        """Run and check one operation; with ``count_rows`` also count
        its plan's shuffles, broadcast joins and codegen stages, and the
        output rows of a sink read (for the traced run)."""
        from pyjanitor_spark.plans import inspect as plans
        from workloads import StreamOp, check_stream

        out = {"err": None, "rows_in": 0, "rows_out": 0,
               "plans": {"shuffles": 0, "broadcast_joins": 0, "codegen_stages": 0}}
        try:
            if isinstance(op, StreamOp):
                out["err"] = check_stream(self.ctx, op)
                out["rows_in"] = self.ctx.rows["events"]
                return out
            op.prep(self.ctx)
            df = op.build(self.ctx)
            if op.writes:
                op.act(self.ctx, df)
            out["err"] = op.check(self.ctx, df)
            out["rows_in"] = op.rows_in(self.ctx, df)
            if count_rows:
                out["plans"] = {
                    "shuffles": plans.shuffle_count(df),
                    "broadcast_joins": plans.broadcast_join_count(df),
                    "codegen_stages": plans.codegen_stage_count(df),
                }
                if op.reads_back:
                    out["rows_out"] = df.count()
        except Exception as e:  # a failed check is counted, not fatal
            out["err"] = f"{type(e).__name__}: {str(e)[:300]}"
        return out

    def check_pass(self, count_rows: bool, workers: int) -> dict:
        """Untimed: run and check every operation once, ``workers`` at a
        time, group by group.  The operations start in declared order, so
        the length of this pass does not depend on the seed."""
        first, reads = self.groups()
        info = {"rows_in": 0, "rows_out": 0, "ops": first + reads,
                "plans": {"shuffles": 0, "broadcast_joins": 0, "codegen_stages": 0}}
        with ThreadPoolExecutor(workers) as pool:
            for group in (first, reads):
                results = list(pool.map(lambda op: self.check_one(op, count_rows), group))
                for op, r in zip(group, results):
                    self.attempted += 1
                    info["rows_in"] += r["rows_in"]
                    info["rows_out"] += r["rows_out"]
                    for k, v in r["plans"].items():
                        info["plans"][k] += v
                    if r["err"]:
                        self.failed += 1
                        self.errors.append(f"check {op.name}: {r['err']}")
        return info


# -- per-layer reduction --------------------------------------------------

def layer_metrics(tracer, log, n_all: int, info: dict,
                  progress: list[list[dict]], overhead_s: float) -> dict[str, float]:
    """Every per-layer metric of the traced pass (see LAYERS.md), and the
    same ledger for each operation."""
    import eventlog
    from spans import OPERATOR_MODULES

    self_t = tracer.self_times()
    calls = tracer.calls()
    m: dict[str, float] = {
        "sources.read_s": self_t.get("sources.read", 0.0),
        "sources.read_calls": calls.get("sources.read", 0),
        "sources.write_s": self_t.get("sources.write", 0.0),
        "streaming.build_s": self_t.get("streaming", 0.0),
    }
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.build_s"] = self_t.get(f"operators.{mod}", 0.0)

    def op_of(s):
        return next(a for a in tracer.ancestors(s) if a.layer == "op")

    jobs = []  # (job, innermost span, phase span)
    for job in log.jobs.values():
        s = tracer.resolve(job.group)
        if s is None:
            continue
        phase = next((a for a in tracer.ancestors(s) if a.layer in ("build", "action")), None)
        jobs.append((job, s, phase))

    def stages(sel):
        return log.stage_list([j.id for j, s, p in sel])

    all_stages = stages(jobs)
    read_jobs = [(j, s, p) for j, s, p in jobs if s.layer == "sources.read"]
    write_jobs = [(j, s, p) for j, s, p in jobs if s.layer == "sources.write"]
    build_jobs = [
        (j, s, p) for j, s, p in jobs
        if p is not None and p.layer == "build" and s.layer.startswith(("operators.", "streaming"))
    ]
    action_jobs = [(j, s, p) for j, s, p in jobs if p is not None and p.layer == "action"]
    executions = {j.execution for j, s, p in jobs if j.execution is not None}

    def total(key, st):
        return sum(x.sums.get(key, 0.0) for x in st)

    m["sources.read_jobs"] = len(read_jobs)
    m["sources.bytes_written"] = total("output_bytes", stages(write_jobs))
    m["sources.files_written"] = sum(
        v for ex in executions for acc, v in log.driver_accums.get(ex, {}).items()
        if log.sql_metrics.get(acc, ("", ""))[1] == "number of written files"
    )
    read_back = {op.name for op in info["ops"] if getattr(op, "reads_back", False)}
    sink_reads = [(j, s, p) for j, s, p in action_jobs if op_of(s).name in read_back]
    m["sources.input_bytes_per_row_out"] = (
        total("input_bytes", stages(sink_reads)) / info["rows_out"] if info["rows_out"] else 0.0
    )
    m["operators.build_jobs"] = len(build_jobs)
    m["operators.build_jobs_s"] = sum(
        (j.end_ms - j.submit_ms) / 1000.0 for j, s, p in build_jobs if j.end_ms
    )
    for k, v in info["plans"].items():
        m[f"plans.{k}"] = float(v)

    actions = [s for s in tracer.spans if s.layer == "action"]
    m["spark.exec_s"] = sum(s.end - s.start for s in actions)
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(all_stages)
    m["spark.tasks"] = sum(x.tasks for x in all_stages)
    gap = 0.0
    for a in actions:
        mine = [j for j, s, p in action_jobs if p is a]
        covered = eventlog.interval_union_ms(
            (x.submit_ms, x.end_ms) for x in log.stage_list([j.id for j in mine]) if x.end_ms
        )
        gap += max(0.0, (a.end - a.start) - covered / 1000.0)
    m["spark.driver_gap_s"] = gap
    m["spark.executor_run_s"] = total("executor_run_ms", all_stages) / 1000.0
    m["spark.executor_cpu_s"] = total("executor_cpu_ns", all_stages) / 1e9
    m["spark.gc_s"] = total("gc_ms", all_stages) / 1000.0
    m["spark.shuffle_write_bytes"] = total("shuffle_write_bytes", all_stages)
    m["spark.shuffle_read_bytes"] = (
        total("shuffle_read_remote", all_stages) + total("shuffle_read_local", all_stages)
    )
    m["spark.spill_bytes"] = total("spill_bytes", all_stages)
    m["spark.peak_exec_memory_bytes"] = float(max((x.peak_exec_memory for x in all_stages), default=0))
    m["spark.broadcast_bytes"] = log.broadcast_bytes(executions)
    init, run = log.python_seconds(all_stages)
    m["spark.python_init_s"] = init
    m["spark.python_run_s"] = run

    # streaming figures come from every timed pass (tracing does not
    # change them)
    batches = [p for replay in progress for p in replay]
    state = [op for replay in progress if replay for op in replay[-1].get("stateOperators", [])]
    m["streaming.batches"] = len(batches) / n_all
    m["streaming.batch_s"] = statistics.median(
        [p["durationMs"]["triggerExecution"] / 1000.0 for p in batches]
    ) if batches else 0.0
    m["streaming.state_rows"] = sum(s.get("numRowsTotal", 0) for s in state) / n_all
    m["streaming.state_memory_bytes"] = sum(s.get("memoryUsedBytes", 0) for s in state) / n_all
    m["streaming.rows_dropped_by_watermark"] = sum(
        s.get("numRowsDroppedByWatermark", 0) for p in batches for s in p.get("stateOperators", [])
    ) / n_all
    m["trace.overhead_s"] = overhead_s

    # the same ledger for each operation
    build_ids = {j.id for j, s, p in build_jobs}
    per_op: dict[str, dict[str, float]] = {}
    for op_span in (s for s in tracer.spans if s.layer == "op"):
        row = per_op.setdefault(op_span.name, dict.fromkeys(
            ("build_s", "exec_s", "jobs", "build_jobs", "read_jobs", "python_run_s",
             "shuffle_write_bytes"), 0.0))
        for child in (tracer.spans[c] for c in op_span.children):
            row["build_s" if child.layer == "build" else "exec_s"] += child.end - child.start
    for j, s, p in jobs:
        row = per_op[op_of(s).name]
        row["jobs"] += 1
        row["read_jobs"] += s.layer == "sources.read"
        row["build_jobs"] += j.id in build_ids
        st = log.stage_list([j.id])
        row["python_run_s"] += log.python_seconds(st)[1]
        row["shuffle_write_bytes"] += total("shuffle_write_bytes", st)
    return m, per_op


# -- main -----------------------------------------------------------------

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "rows_per_s": "1/s", "op_p50_s": "s",
             "op_tail_s": "s", "peak_rss_mb": "MB"}


def unit(name: str) -> str:
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("per_row_out"):
        return "bytes/row"
    if name.endswith(("_bytes", "bytes_written")):
        return "bytes"
    return "count"


def run(wl, seed: int, seconds: float, trace: bool) -> dict:
    """One benchmark run of workload ``wl``; returns the report."""
    import duckdb
    import numpy as np

    import datagen
    import eventlog
    from spans import Tracer
    from workloads import Ctx, prepare_sink, prepare_stream

    cores = len(os.sched_getaffinity(0))
    os.makedirs(TMP_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{wl.name}-{seed}-", dir=TMP_ROOT)
    mem = None
    spark = None
    try:
        data = os.path.join(work, "data")
        tables = datagen.write_tables(data, wl.sf, seed)
        conf = session_conf(work, cores)
        spark = start_session(conf, work)
        duck = duckdb.connect()
        for name in tables:
            duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data}/{name}.parquet')")
        rng = np.random.default_rng(seed)
        ctx = Ctx(spark, data, work, {t: v.num_rows for t, v in tables.items()}, rng, duck)
        if any(op.writes for op in wl.ops):
            prepare_sink(ctx, tables)
        if wl.stream:
            prepare_stream(ctx, tables)
        runner = Runner(ctx, wl, rng)
        t_check = time.perf_counter()
        info = runner.check_pass(trace, workers=cores)
        check_failed = runner.failed

        t_first = time.perf_counter()
        setup_s = t_first - T_PROCESS
        mem = MemorySampler(spark._jvm)
        mem.start()  # memory of the timed passes, not of the parallel check
        # whole passes, at least two, while the next one (taking as long
        # as the last) ends within the window
        passes: list[float] = []
        while len(passes) < 2 or time.perf_counter() - t_first + passes[-1] <= seconds:
            passes.append(runner.one_pass())
        wall = statistics.median(passes)
        mem.stop()
        t_passes = time.perf_counter()
        if trace:
            # one more pass, traced, in a context that writes the event log
            spark.stop()
            spark = ctx.spark = start_session({**conf, **event_log_conf(work)}, work)
            tracer = runner.tracer = Tracer(spark.sparkContext)
            runner.traced = True
            tracer.install()
            try:
                traced_wall = runner.one_pass()
            finally:
                tracer.uninstall()
        t_timed = time.perf_counter()
        stop_session(spark)
        spark = None
        t_stop = time.perf_counter()

        report = {
            "workload": wl.name, "seed": seed, "sf": wl.sf, "conf": conf,
            "rows_in": info["rows_in"], "passes": passes,
            "attempted": runner.attempted, "failed": runner.failed,
            "check_failed": check_failed, "errors": runner.errors, "per_op": {},
            "heap_after_gc_mb": mem.peak_heap / 2**20,
            "phases": {"start": t_check - T_PROCESS, "check": t_first - t_check,
                       "timed": t_passes - t_first, "traced": t_timed - t_passes,
                       "stop": t_stop - t_timed},
        }
        if trace:
            log = eventlog.read(os.path.join(work, "events"))
            report["metrics"], report["per_op"] = layer_metrics(
                tracer, log, len(passes) + 1, info, runner.progress, traced_wall - wall)
            report["metrics"]["jvm.heap_after_gc_peak_mb"] = report["heap_after_gc_mb"]
            report["phases"]["reduce"] = time.perf_counter() - t_stop
        else:
            t_val, t_pct, t_n = tail(runner.samples)
            report["tail"] = (t_pct, t_n)
            report["op_median_s"] = {k: statistics.median(v) for k, v in runner.op_samples.items()}
            report["build_share"] = sum(b for b, _ in runner.build_s) / max(
                1e-9, sum(t for _, t in runner.build_s))
            report["metrics"] = {
                "setup_s": setup_s,
                "wall_s": wall,
                "rows_per_s": info["rows_in"] / wall,
                "op_p50_s": statistics.median(runner.samples),
                "op_tail_s": t_val,
                "peak_rss_mb": mem.peak_kb / 1024.0,
            }
        return report
    finally:
        if mem is not None and mem.is_alive():
            mem.stop()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(TMP_ROOT)  # only when no other run is using it


def print_report(r: dict) -> None:
    print(f"workload {r['workload']}  seed {r['seed']}  sf {r['sf']}  {r['conf']['spark.master']}")
    print("session conf " + json.dumps(r["conf"], sort_keys=True))
    print(f"input rows per pass {r['rows_in']}  timed passes {len(r['passes'])}")
    print("pass seconds " + " ".join(f"{p:.2f}" for p in r["passes"]))
    print("phase seconds " + "  ".join(f"{k} {v:.1f}" for k, v in r["phases"].items()))
    for err in r["errors"]:
        print(f"FAILED {err}")
    if "tail" in r:
        pct, n = r["tail"]
        print(f"op_tail_s is p{pct:.1f} of {n} operation latencies")
        print(f"build share of batch operation time {r['build_share']:.3f}")
        print(f"jvm.heap_after_gc_peak_mb {r['heap_after_gc_mb']:.1f} MB (not compared)")
        for op, v in sorted(r["op_median_s"].items(), key=lambda kv: -kv[1]):
            print(f"op {op} median_s={v:.4g}")
    print(f"failed_frac {r['failed'] / max(1, r['attempted']):.4f} "
          f"({r['failed']} of {r['attempted']} operations, {r['check_failed']} in the checking pass)")
    for op, row in r["per_op"].items():
        print(f"op {op} " + " ".join(f"{k}={v:.4g}" for k, v in row.items()))
    for k, v in r["metrics"].items():
        print(f"{k} {v:.6g} {unit(k)}")
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in r["metrics"].items()},
    }))


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    from workloads import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads()))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    print_report(run(workloads()[args.workload], args.seed, args.seconds, bool(args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
