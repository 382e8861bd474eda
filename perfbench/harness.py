"""Run one workload in this process and print its result line.

A run is: start Spark with fixed resources, set the workload up several
times (the last set-up is kept), run one cold pass, then closed-loop
steady passes for ``--seconds``.  Each steady pass is bracketed by runs
of a fixed plain-Spark reference job (``reference_s``), and the pass is
reported relative to them (``pass_rel``).  Every pass's outputs are
checked and digested; the digest must not change between passes.

Noise controls: ``local[k]`` with k at most 2 and at most the CPUs this
process may use, shuffle partitions = k, a fixed pre-touched 1 GB driver
heap, Spark's scratch, warehouse and temp files in a fresh work
directory under the checkout, which is deleted when the run ends, after
the gateway JVM has exited.
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import sys
import time

# two task threads leave the other CPUs of a 4-CPU box to the driver
# thread, the JIT compiler and GC, which keep busy for the whole run
CORES = min(2, len(os.sched_getaffinity(0)))
DRIVER_HEAP = "1g"
SETUP_REPEATS = 3
MIN_STEADY_PASSES = 3
# per-layer metrics a workload reports itself (0 where it has none)
WORKLOAD_LAYER_METRICS = {
    "sources.written_mb": "MB",
    "sources.read_rows_per_written_row": "ratio",
    "sources.store_ratio": "ratio",
    "streaming.engine_s": "s",
    "streaming.state_rows": "count",
    "functions.candidate_yield": "ratio",
    "functions.dup_recall": "ratio",
}
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


# ------------------------------------------------------------ diagnostics
def _cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Steal as a share of all CPU time over the interval, summed over
    every CPU: Δsteal / Δtotal, so it does not scale with core count."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8])  # user..steal; guest time is already inside user
    return d[7] / total if total > 0 else 0.0


def reference_s(spark) -> float:
    """Wall time of a fixed plain-Spark job mix that calls none of the
    library.  It does the kind of work a pass does (small shuffles,
    windows, a join, collects), so it slows down and speeds up with the
    shared host as a pass does; a change to the library leaves it as
    it is."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    t = time.perf_counter()
    base = spark.range(0, 40_000).select(
        (F.col("id") % 400).alias("k"), F.floor(F.col("id") / 400).alias("d"),
        (F.hash("id") % 1000 / 1000.0).alias("x"))
    w = Window.partitionBy("k").orderBy("d")
    a = base.withColumn("lag", F.lag("x").over(w)).withColumn("cum", F.sum("x").over(w))
    a.groupBy("d").agg(F.avg("cum"), F.count("lag")).collect()
    dims = base.groupBy("k").agg(F.max("x").alias("mx"))
    a.join(dims, "k").where(F.col("x") > F.col("mx") * 0.5).groupBy("k").count().collect()
    base.groupBy("d").agg(F.percentile_approx("x", 0.5)).orderBy("d").limit(5).collect()
    a.select(F.ntile(10).over(Window.partitionBy("d").orderBy("x")).alias("q"), "x") \
        .groupBy("q").agg(F.sum("x")).collect()
    return time.perf_counter() - t


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process, MB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) * 1024 / 1e6


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) for the highest percentile of TAIL_LADDER with
    at least TAIL_MIN_BEYOND samples beyond it."""
    import numpy as np

    n = len(values)
    for p in TAIL_LADDER:
        if n * (1 - p / 100) >= TAIL_MIN_BEYOND:
            return p, float(np.percentile(values, p))
    return 50.0, float(np.percentile(values, 50))


# ------------------------------------------------------------------ spark
def start_spark(work: str):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    from financial_data_science_spark import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed, pre-touched heap: the JVM's resident size no longer
            # depends on when the collector chose to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# -------------------------------------------------------------------- run
def run(workload, seed: int, seconds: float, trace: bool, root: str, t_start: float,
        size: str = "full") -> dict:
    """Run ``workload`` (an object with the Workload methods) and return
    the result dict printed as the last line."""
    work = os.path.join(root, ".perfbench_work", f"{workload.name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jiffies0, load0 = _cpu_jiffies(), os.getloadavg()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        from perfbench.tracing import Tracer

        tracer = Tracer(spark)
        result = _measure(workload, spark, tracer, seed, seconds, trace, work,
                          session_s, time.perf_counter() - t_start, size)
        result["diagnostics"] = {
            "steal_share": steal_share(jiffies0, _cpu_jiffies()),
            "clk_tck": os.sysconf("SC_CLK_TCK"),
            "loadavg_start": load0, "loadavg_end": os.getloadavg(),
            "nproc": os.cpu_count(), "cores_used": CORES,
            "spark_version": spark.version,
            "java_version": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "conf": dict(spark.sparkContext.getConf().getAll()),
        }
        result["spans"] = tracer.span_log() if trace else []
        return result
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def _measure(workload, spark, tracer, seed, seconds, trace, work, session_s, boot_s, size):
    ops = {"attempted": 0, "failed": 0, "failures": []}

    def op(name: str, ok: bool) -> None:
        ops["attempted"] += 1
        if not ok:
            ops["failed"] += 1
            ops["failures"].append(name)

    # set-up: repeat and keep the median; only the last state is used
    setup_times, state = [], None
    for i in range(SETUP_REPEATS):
        if state is not None:
            workload.release(state)
        t = time.perf_counter()
        state = workload.setup(spark, seed, os.path.join(work, f"setup{i}"), size)
        setup_times.append(time.perf_counter() - t)
    inputs_s = statistics.median(setup_times)
    setup_s = boot_s + inputs_s
    if trace:
        workload.patch(tracer)

    digests, passes, traced_passes, pass_batches, layer_passes = [], [], [], [], []

    def one_pass(i: int, traced: bool):
        if traced:
            tracer.trace_pass()
        t = time.perf_counter()
        try:
            out = workload.run_pass(state, tracer, i)
        except Exception as e:  # a failed pass counts against the run
            op(f"pass{i}: {type(e).__name__}: {e}"[:300], False)
            if traced:
                tracer.end_pass()
            return None
        dt = time.perf_counter() - t
        op(f"pass{i}", True)
        if traced:
            layer_passes.append({**tracer.end_pass(), **out.counters})
        for b in out.batch_s:
            op(f"pass{i} batch", True)
        for name, ok in workload.check(state, out):
            op(f"pass{i} check {name}", ok)
        digests.append(workload.result_digest(out))
        op(f"pass{i} digest", digests[-1] == digests[0])
        return dt, out

    cold = one_pass(0, False)
    reference_s(spark)  # the reference job's own cold run
    t_loop = time.perf_counter()
    refs, brackets = [reference_s(spark)], []
    i, last = 1, 0.0
    # a pass starts only if it should end within --seconds
    while i <= MIN_STEADY_PASSES or time.perf_counter() - t_loop + last < seconds:
        traced = trace and i % 2 == 0
        t = time.perf_counter()
        r = one_pass(i, traced)
        refs.append(reference_s(spark))
        last = time.perf_counter() - t
        if r is not None and traced:
            traced_passes.append(r[0])
        elif r is not None:
            passes.append(r[0])
            pass_batches.append(r[1].batch_s)
            brackets.append(statistics.mean(refs[-2:]))
        i += 1
        if ops["failed"] > 20:
            break
    rss = peak_rss_mb(spark)

    e2e = {}
    if passes and cold is not None:
        batches = [b for bs in pass_batches for b in bs]
        tail_p, tail_v = tail(batches)
        e2e = {
            "setup_s": (setup_s, "s"),
            "pass_rel": (sum(passes) / sum(brackets), "ratio"),
            "peak_rss_mb": (rss, "MB"),
        }
        notes = {"cold_pass_s": cold[0], "pass_s": statistics.median(passes),
                 "reference_s": statistics.median(refs),
                 "batch_p50_s": statistics.median(_best_per_position(pass_batches)),
                 "batch_tail_s": tail_v, "batch_tail_percentile": tail_p, "batches": len(batches),
                 "steady_passes": len(passes), "pass_times": passes,
                 "reference_times": refs, "setup_times": setup_times, "digest": digests[0]}
        notes.update(workload.run_notes(state))
    else:
        notes = {}
    layer = {}
    if trace and layer_passes:
        layer = _layer_metrics(workload, layer_passes, session_s, inputs_s)
        layer["trace.overhead_s"] = (
            min(traced_passes) - min(passes), "s")
    workload.release(state)
    return {"ops": ops, "e2e": e2e, "layer": layer, "notes": notes}


def _best_per_position(pass_batches: list[list[float]]) -> list[float]:
    """Each batch position's fastest time over the passes (every pass has
    the same batches, in the same order)."""
    if len({len(bs) for bs in pass_batches}) != 1:
        raise ValueError("passes ran different numbers of batches")
    return [min(col) for col in zip(*pass_batches)]


def _layer_metrics(workload, layer_passes, session_s, inputs_s) -> dict:
    """Median over traced passes of every per-layer metric; a layer the
    workload does not touch reports 0."""
    from perfbench.tracing import LAYER_METRICS, LAYERS

    names = {f"{l}.{m}": u for l in LAYERS for m, u in LAYER_METRICS.items()}
    names.update(WORKLOAD_LAYER_METRICS)
    out = {
        n: (statistics.median(p.get(n, 0.0) for p in layer_passes), u)
        for n, u in names.items()
    }
    out["session.start_s"] = (session_s, "s")
    out["setup.inputs_s"] = (inputs_s, "s")
    return out
