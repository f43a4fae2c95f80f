#!/usr/bin/env python3
"""spark-graft benchmark: one workload, one closed-loop client, one run.

    python3 perfbench/run.py --workload star_analytics --seed 1 --seconds 10 --trace 0

Run from the repository root (the engine's package is imported from the
working directory). Inputs are generated from ``--seed`` under
``.perfbench/inputs`` and cached per seed; every Spark scratch file goes to
a per-run directory under ``.perfbench`` that is removed at exit.

A run: input generation and the oracle in an awaited child process, then
import + registry + session + a verifying warm-up pass (the set-up,
``setup_s``), then whole passes in a closed loop until ``--seconds`` of
pass time have been measured, then the end-of-run checks. Each op's result
is checked after its pass, outside every timed region. ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` alternates untraced and
traced passes and prints the per-layer metrics. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}. The line
before it holds the run's context (wall-clock pass and op times with
percentiles and sample counts, host load, calibration probe, lakehouse
read/write figures). Every process the run starts has ended when it
exits. See README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import functools
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import workloads as wl
from tracing import StatusStore, Tracer, plan_profile, stage_profile

ROOT = os.getcwd()
PACKAGE = "european_public_data_pipeline_spark"
WORKLOADS = ("star_analytics", "llm_curation", "lakehouse_writes")
DEFAULT_SF = 0.01
LAKE_CYCLES = 16

END_TO_END = {
    "setup_s": "s",
    "batch_cpu_s": "s",
    "peak_rss_mb": "MB",
}
SELF_SPANS = (
    "op", "build", "optimize", "execute", "inspect",
    "bronze_ingest", "jsonstat_decode", "silver_transform", "quality_suite", "gate", "gold_load",
)
PER_LAYER = {
    "session.import_s": "s", "session.start_s": "s", "session.warmup_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.optimize_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.busy_frac": "ratio", "spark.no_stage_s": "s",
    "spark.gc_s": "s", "spark.failed_tasks": "count",
    "tables.scan_s": "s", "tables.scan_bytes": "B", "tables.files_read": "count",
    "tables.input_bytes": "B",
    "operators.shuffle.write_bytes": "B", "operators.shuffle.read_bytes": "B",
    "operators.shuffle.fetch_wait_s": "s", "operators.shuffle.spill_bytes": "B",
    "operators.broadcast.count": "count", "operators.broadcast.bytes": "B",
    "operators.broadcast.collect_s": "s", "operators.broadcast.build_s": "s",
    "operators.python.nodes": "count", "operators.python.bytes_sent": "B",
    "operators.python.bytes_received": "B", "operators.python.rows_received": "count",
    "operators.cache.persisted": "count", "operators.cache.bytes": "B",
    "operators.cache.leftover": "count", "operators.cache.reuse_ratio": "ratio",
    "pipeline.append_s": "s", "pipeline.upsert_mor_s": "s", "pipeline.delete_mor_s": "s",
    "pipeline.merge_cow_s": "s", "pipeline.compact_s": "s", "pipeline.medallion_s": "s",
    "pipeline.bytes_written": "B", "pipeline.files_written": "count",
    "pipeline.files_live": "count", "pipeline.sidecars_live": "count",
    "pipeline.files_pruned_ratio": "ratio",
    "pipeline.write_p50_s": "s", "pipeline.read_p50_s": "s",
    "pipeline.write_amp": "ratio", "pipeline.space_amp": "ratio",
    "quality.gate_s": "s", "quality.jobs": "count", "sources.jsonstat_decode_s": "s",
    "trace.batch_s": "s", "trace.untraced_batch_s": "s", "trace.overhead_s": "s",
    "wall.op_p50_s": "s", "wall.op_tail_s": "s",
    **{f"self.{name}_s": "s" for name in SELF_SPANS},
}
# Per-pass sums whose per-run value is the median over traced passes (the
# ratios and span self times are derived from whole-run totals instead).
_PASS_SUMS = [
    k for k in PER_LAYER
    if k.split(".")[0] in ("plans", "spark", "tables", "operators", "quality", "sources")
    and k not in (
        "spark.busy_frac", "operators.cache.reuse_ratio", "plans.build_s", "plans.optimize_s"
    )
]


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def task_slots(cpus: int) -> int:
    """Half the CPUs: each task slot also keeps a Python worker or the JVM's
    own threads (JIT, GC, listener bus, py4j) busy, and the driver Python
    needs a CPU too. On a 4-vCPU VM whose hypervisor steals time, local[2]
    ran the lakehouse cycle and the curation pass as fast as local[4] and
    slowed far less under steal (README.md)."""
    return max(1, cpus // 2)


def driver_mem_mb() -> int:
    """30% of MemTotal, within [1 GiB, 16 GiB]: the engine's 16g default
    does not fit small hosts."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(16384, int(total_kb * 0.3 / 1024)))


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot: the share a hypervisor took."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, but never
    below the nearest-rank p90 (with fewer than 100 samples that rule alone
    would fall to or under the median); and its rank as a percentile."""
    xs = sorted(values)
    n = len(xs)
    i = max(n - 11, math.ceil(0.9 * n) - 1)
    return xs[i], 100.0 * (i + 1) / n


class Context:
    """What ops see: the session, the tracer, the status store, the job
    group of the running op, and the per-pass layer accumulator."""

    def __init__(self, spark, tracer, work: str):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.store = StatusStore(spark)
        self.group = ""
        self.layer: dict[str, float] = {}

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + float(value)

    def add_plan(self, plan) -> None:
        for k, v in plan_profile(self.spark.sparkContext._jvm, plan).items():
            self.add(k, v)


_PREPARE = """
import json, sys
sys.path.insert(0, sys.argv[1])
import workloads
d, expected = workloads.prepare_inputs(sys.argv[2], int(sys.argv[3]), float(sys.argv[4]),
                                       sys.argv[5], int(sys.argv[6]))
with open(sys.argv[7], "w") as f:
    json.dump([d, expected], f)
"""


def make_workload(name: str, seed: int, sf: float, inputs: str, run_dir: str, traced: bool):
    """Inputs and expected results come from a child process, awaited here,
    so neither the generator nor the DuckDB oracle counts in this process's
    peak RSS."""
    out = os.path.join(run_dir, "prepared.json")
    subprocess.run(
        [sys.executable, "-c", _PREPARE, os.path.dirname(os.path.abspath(__file__)),
         name, str(seed), repr(sf), inputs, str(LAKE_CYCLES), out],
        check=True, stdout=sys.stderr,
    )
    with open(out) as f:
        d, expected = json.load(f)
    if name == "star_analytics":
        return wl.QueryWorkload(name, wl.STAR_OPS, d, expected)
    if name == "llm_curation":
        return wl.QueryWorkload(name, wl.CURATION_OPS, d, expected)
    return wl.LakehouseWorkload(d, seed, wl.lake_rows(sf), LAKE_CYCLES, merge=traced)


def install_pipeline_spans(ctx) -> None:
    """Wrap the medallion stages that ``run_pipeline`` resolves from its
    module at call time, so a traced cycle records one span per stage."""
    from european_public_data_pipeline_spark.pipeline import run_hicp
    from european_public_data_pipeline_spark.sources import jsonstat

    def wrap(attr: str, span: str, after=None):
        fn = getattr(run_hicp, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            if not ctx.tracer.enabled:
                return fn(*a, **kw)
            jobs0 = len(ctx.store.job_ids(ctx.group))
            t0 = time.perf_counter()
            with ctx.tracer.span(span):
                out = fn(*a, **kw)
            if span == "gate":
                ctx.add("quality.gate_s", time.perf_counter() - t0)
                ctx.add("quality.jobs", len(ctx.store.job_ids(ctx.group)) - jobs0)
            if after is not None:
                after(out)
            return out

        setattr(run_hicp, attr, traced)

    def decode_probe(paths: list[str]) -> None:
        # The decode runs inside Python workers during silver_transform;
        # the probe repeats it on the driver over the same landed payloads.
        t0 = time.perf_counter()
        with ctx.tracer.span("jsonstat_decode"):
            for p in paths:
                with open(p) as f:
                    jsonstat.parse_payload(json.load(f))
        ctx.add("sources.jsonstat_decode_s", time.perf_counter() - t0)

    wrap("bronze_ingest", "bronze_ingest", after=decode_probe)
    wrap("silver_transform", "silver_transform")
    wrap("hicp_suite", "quality_suite")
    wrap("gate", "gate")
    wrap("gold_load", "gold_load")


def calibrate(spark) -> float:
    """A fixed single-task JVM job (host context, not a metric)."""
    def once() -> float:
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, 1, 1).selectExpr("sum(id % 1000003) as s").collect()
        return (time.perf_counter() - t0) * 1000

    once()
    return min(once() for _ in range(2))


def stop_session() -> None:
    """Stop Spark, if it runs, then end the JVM it launched and wait for it."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    # The JVM exits when its stdin closes.
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def become_subreaper() -> None:
    """Make this process the parent of every orphan among its descendants
    (a JVM that had to be killed leaves its Python worker daemon to shut
    down on its own), so that ``reap_children`` can wait for all of them."""
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, list[str]]:
    """pid -> the /proc/<pid>/stat fields after the parenthesised command
    (state, ppid, ..., utime, stime, cutime, cstime at 11-14)."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stats[int(entry)] = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
    return stats


def child_pids() -> list[int]:
    me = os.getpid()
    return [pid for pid, st in _proc_stats().items() if int(st[1]) == me]


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant
    (JVM, Python workers), each with its reaped children. The kernel
    charges time the hypervisor steals to no process."""
    stats = _proc_stats()
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(int(st[1]), []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
        todo.extend(kids.get(pid, ()))
    return total * _TICK_S


def reap_children(grace_s: float = 20.0) -> None:
    """Wait for every child (orphaned descendants included); after
    ``grace_s`` kill those still running, then wait for them too."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for kid in child_pids():
                try:
                    os.kill(kid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = math.inf
        time.sleep(0.05)


def run(args, run_dir: str) -> dict:
    seed, trace_on = args.seed, bool(args.trace)
    work = os.path.dirname(run_dir)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cpus = host_cpus()
    slots = task_slots(cpus)
    mem_mb = driver_mem_mb()
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_GRAFT_CPUS": str(slots),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "PYSPARK_PYTHON": sys.executable,
        # Keeps the JVMs from writing /tmp/hsperfdata_<user>.
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    })
    load_avg = os.getloadavg()[0]
    ticks0 = cpu_ticks()

    # Inputs: generated (or reused) before the set-up clock starts.
    t = time.perf_counter()
    workload = make_workload(args.workload, seed, args.sf, os.path.join(work, "inputs"), run_dir,
                             trace_on)
    inputs_s = time.perf_counter() - t

    # Set-up: import + registry.
    setup_cpu0 = tree_cpu_s()
    t = time.perf_counter()
    from european_public_data_pipeline_spark import plans
    from european_public_data_pipeline_spark.session import get_spark

    plans.all_specs()
    import_s = time.perf_counter() - t

    # Set-up: session.
    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{slots}]",
        shuffle_partitions=slots,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.hadoop.hadoop.tmp.dir": os.path.join(run_dir, "hadoop"),
            # A fixed young generation keeps G1's adaptive eden sizing
            # (and so the touched heap) out of peak_rss_mb.
            "spark.driver.extraJavaOptions": (
                f"-Xmn256m -Djava.io.tmpdir={run_dir}/tmp -Dderby.system.home={run_dir}/derby"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t
    jvm_pid = spark.sparkContext._gateway.proc.pid

    tracer = Tracer(enabled=False)
    ctx = Context(spark, tracer, run_dir)
    if trace_on and args.workload == "lakehouse_writes":
        install_pipeline_spans(ctx)

    attempted = failed = 0
    errors: list[str] = []
    warm_ops: list[tuple[str, float]] = []

    def run_pass(pass_idx: int, verify: bool, traced: bool,
                 record: list | None) -> tuple[float, float]:
        """One pass. Returns its time, every op's timer plus the protocol
        between ops (job group, cache clear), and the CPU seconds the
        process tree used in that time. Results are checked after the
        pass, in op order, outside it."""
        nonlocal attempted, failed
        tracer.enabled = traced
        sc = spark.sparkContext
        ctx.layer = {}
        pass_s = pass_cpu = 0.0
        results = []
        for op in workload.ops(verify):
            if op.prepare is not None:
                op.prepare()
            cpu0 = tree_cpu_s()
            t0_epoch, t0 = time.time(), time.perf_counter()
            ctx.group = f"{args.workload}/{op.name}/{pass_idx}"
            sc.setJobGroup(ctx.group, op.name)
            error, out = None, None
            with tracer.span("op", op=op.name, group=ctx.group):
                try:
                    out = op.run()
                except Exception as e:  # a failed op counts; the run goes on
                    error = f"{ctx.group}: {type(e).__name__}: {str(e)[:300]}"
                    traceback.print_exc(file=sys.stderr)
                dt = time.perf_counter() - t0
                if traced:
                    with tracer.span("inspect"):
                        jobs, stages = ctx.store.stages_for_group(ctx.group)
                        for k, v in stage_profile(jobs, stages, t0_epoch, t0_epoch + dt).items():
                            ctx.add(k, v)
                        ctx.add("operators.cache.bytes", ctx.store.cached_bytes())
                        ctx.add(
                            "operators.cache.leftover",
                            spark._jsparkSession.sharedState().cacheManager().numCachedEntries(),
                        )
            spark.catalog.clearCache()
            pass_s += time.perf_counter() - t0
            cpu = tree_cpu_s() - cpu0
            pass_cpu += cpu
            results.append((op, ctx.group, error, out, dt, cpu))
        sc.setJobGroup("", "")
        tracer.enabled = False
        for op, group, error, out, dt, cpu in results:
            attempted += 1
            if error is None:
                try:
                    if not op.check(out):
                        error = f"{group}: wrong result"
                except Exception as e:
                    error = f"{group}: check {type(e).__name__}: {str(e)[:300]}"
                    traceback.print_exc(file=sys.stderr)
            if error is not None:
                failed += 1
                errors.append(error)
            if record is not None:
                record.append((op.name, op.kind, dt, traced, cpu))
            else:
                warm_ops.append((op.name, round(dt, 3)))
        return pass_s, pass_cpu

    # Set-up: table creation (lakehouse) and the verifying warm-up pass,
    # without the warm-up's checks.
    t = time.perf_counter()
    workload.start(ctx)
    warmup_s = time.perf_counter() - t + run_pass(0, verify=True, traced=False, record=None)[0]
    for _ in range(workload.unverified_warmups):
        warmup_s += run_pass(0, verify=False, traced=False, record=None)[0]
    setup_s = import_s + start_s + warmup_s
    setup_cpu_s = tree_cpu_s() - setup_cpu0

    # Measured region: whole passes until --seconds of pass time, and at
    # least the workload's minimum of untraced passes.
    samples: list[tuple] = []
    untraced_passes: list[float] = []
    untraced_cpu: list[float] = []
    traced_passes: list[float] = []
    layers: list[dict] = []
    p = 1
    # A traced run alternates untraced and traced passes in blocks of four,
    # U T T U, so JIT warm-up and table growth weigh on both sides alike.
    while workload.more() and (
        len(untraced_passes) < workload.min_passes
        or sum(untraced_passes) + sum(traced_passes) < args.seconds
        or (trace_on and p % 4 != 1)
    ):
        traced = trace_on and p % 4 in (2, 3)
        pass_s, pass_cpu = run_pass(p, verify=False, traced=traced, record=samples)
        (traced_passes if traced else untraced_passes).append(pass_s)
        if not traced:
            untraced_cpu.append(pass_cpu)
        if traced:
            layers.append(dict(ctx.layer))
        p += 1
    # Before any end-of-run work of the benchmark's own.
    peak_rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
    ticks1 = cpu_ticks()

    context: dict = {
        "workload": args.workload, "seed": seed, "sf": args.sf, "trace": int(trace_on),
        "cpus": cpus, "task_slots": slots, "driver_mem_mb": mem_mb, "load_avg": round(load_avg, 2),
        "inputs_s": round(inputs_s, 2),
        "passes": len(untraced_passes), "traced_passes": len(traced_passes),
        "steal_pct": round(100 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]), 1),
    }
    metrics: dict[str, float] = {}

    # End-of-run checks and lakehouse figures (outside every timed region).
    correct_final = True
    if args.workload == "lakehouse_writes":
        correct_final = workload.final_check()
        if not correct_final:
            errors.append("final table differs from the model of the applied batches")
        writes = [s[2] for s in samples if s[1] in ("write", "pipeline") and not s[3]]
        reads = [s[2] for s in samples if s[1] == "read" and not s[3]]
        lake = {
            "write_p50_s": statistics.median(writes) if writes else 0.0,
            "read_p50_s": statistics.median(reads) if reads else 0.0,
            "write_amp": workload.table_bytes_written / max(1, workload.bytes_in),
        }
        context["cycles"] = workload.cycle
        if trace_on:
            # A fresh compact write of the live rows: a traced run's cost only.
            lake["space_amp"] = workload.table_dir_bytes() / max(1, workload.compact_bytes())
            metrics.update({f"pipeline.{k}": v for k, v in lake.items()})
            before = workload.live_before_compact[1:]  # after the warm-up cycle
            metrics["pipeline.files_live"] = statistics.mean(f for f, _ in before)
            metrics["pipeline.sidecars_live"] = statistics.mean(d for _, d in before)
            metrics["pipeline.files_pruned_ratio"] = (
                workload.pruned[0] / workload.pruned[1] if workload.pruned[1] else 0.0
            )
            metrics["pipeline.bytes_written"] = workload.bytes_written / max(1, workload.cycle)
            metrics["pipeline.files_written"] = workload.files_written / max(1, workload.cycle)
        context.update(lake)
    context["calibration_ms"] = round(calibrate(spark), 1)

    lat = [s[2] for s in samples if not s[3]]
    op_p50, (op_tail, tail_pct) = statistics.median(lat), tail(lat)
    context.update({
        "batch_s": statistics.median(untraced_passes), "op_p50_s": op_p50, "op_tail_s": op_tail,
        "op_samples": len(lat), "op_tail_pct": round(tail_pct, 1),
        "ops_failed_ratio": failed / max(1, attempted),
        "setup": {"import_s": import_s, "start_s": start_s, "warmup_s": warmup_s,
                  "cpu_s": setup_cpu_s},
        "warmup_ops": warm_ops,
        "pass_ops": [(s[0], round(s[2], 3)) for s in samples],
        "pass_ops_cpu": [(s[0], round(s[4], 3)) for s in samples],
    })
    if not trace_on:
        metrics.update({
            "setup_s": setup_s,
            "batch_cpu_s": statistics.median(untraced_cpu),
            "peak_rss_mb": peak_rss,
        })
        units = END_TO_END
    else:
        traced_ops = [s for s in samples if s[3]]
        for k in _PASS_SUMS:
            metrics[k] = statistics.median(layer.get(k, 0.0) for layer in layers)
        wall = sum(s[2] for s in traced_ops)
        task_run = sum(layer.get("spark.task_run_s", 0.0) for layer in layers)
        metrics["spark.busy_frac"] = task_run / (wall * slots) if wall else 0.0
        scans = sum(layer.get("operators.cache.scans", 0.0) for layer in layers)
        persisted = sum(layer.get("operators.cache.persisted", 0.0) for layer in layers)
        metrics["operators.cache.reuse_ratio"] = scans / persisted if persisted else 0.0
        metrics["session.import_s"] = import_s
        metrics["session.start_s"] = start_s
        metrics["session.warmup_s"] = warmup_s
        self_t = tracer.self_times()
        n_traced = len(traced_passes)
        for name in SELF_SPANS:
            metrics[f"self.{name}_s"] = self_t.get(name, 0.0) / n_traced
        metrics["plans.build_s"] = self_t.get("build", 0.0) / n_traced
        metrics["plans.optimize_s"] = self_t.get("optimize", 0.0) / n_traced
        by_name: dict[str, list[float]] = {}
        for name, _, dt, _, _ in traced_ops:
            by_name.setdefault(name, []).append(dt)
        for op, key in (("append", "append_s"), ("upsert_mor", "upsert_mor_s"),
                        ("delete_mor", "delete_mor_s"), ("merge_cow", "merge_cow_s"),
                        ("compact", "compact_s"), ("medallion", "medallion_s")):
            metrics[f"pipeline.{key}"] = statistics.median(by_name[op]) if op in by_name else 0.0
        tb, ub = statistics.median(traced_passes), statistics.median(untraced_passes)
        metrics["trace.batch_s"] = tb
        metrics["trace.untraced_batch_s"] = ub
        metrics["trace.overhead_s"] = tb - ub
        metrics["wall.op_p50_s"], metrics["wall.op_tail_s"] = op_p50, op_tail
        for k in PER_LAYER:
            metrics.setdefault(k, 0.0)
        units = PER_LAYER
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        tracer.dump(os.path.join(work, "traces", f"{args.workload}-seed{seed}.json"))

    if errors:
        context["errors"] = errors[:20]
    return {
        "context": context,
        "result": {
            "correct": failed == 0 and correct_final,
            "attempted": attempted,
            "failed": failed + (0 if correct_final else 1),
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF,
                    help="input scale (star tables at this TPC-H-like scale factor)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # A termination request unwinds through the clean-up below.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    try:
        out = run(args, run_dir)
    finally:
        stop_session()
        reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out["context"], default=str))
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
