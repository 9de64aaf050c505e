"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates (or reuses) the seeded inputs of ``<name>``, starts one local
Spark session with a task thread for every other CPU of the host
(``procfs.task_slots``), sets up and warms up, then runs the
workload's operation in a closed loop with one client for ``--seconds`` of
measured time, checking every output against the oracle. The last line of
standard output is one JSON object with the end-to-end metrics
(``--trace 0``) or the per-layer metrics of a separate traced run
(``--trace 1``). Everything it writes stays under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

STARTED = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
# this run's scratch dirs (Spark local dirs, TMPDIR of the process tree),
# per process so that a run never deletes another's files
RUN_TMP = os.path.join(WORK, "tmp", str(os.getpid()))
RUN_LOCAL = os.path.join(WORK, "spark-local", str(os.getpid()))
SETUPS = 3  # session starts + input loads per run; setup_s takes their median
MIN_OPS = 3  # timed operations per run, at least
MAX_RUN_S = 150  # stop timing new operations after this much wall time
UNTRACED_OPS = 2  # untraced operations timed in a traced run (overhead base)
SCALING_OPS = 3  # timed operations per level of the scaling pair


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def host_heap_mb() -> int:
    """Driver heap: an eighth of MemTotal, between 1 and 4 GiB."""
    from perfbench.procfs import mem_total_mb

    return int(min(4096, max(1024, mem_total_mb() / 8)))


def start_session(cores: int, event_log: str | None = None):
    from housenumbercore_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{host_heap_mb()}m",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={RUN_TMP}",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=cores, shuffle_partitions=2 * cores, extra_conf=conf)


def stop_everything(spark, flush: bool = True) -> None:
    """End the JVM behind the session and wait until every process this run
    started (JVM, Python workers) has ended. ``flush`` stops the session
    first, which writes out the event log; without it the JVM is killed."""
    from pyspark import SparkContext

    from perfbench.procfs import alive, tree_pids

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = [p for p in tree_pids() if p != os.getpid()]
    if flush or proc is None:
        spark.stop()
    if proc is not None:
        if not flush:
            proc.kill()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = [p for p in children if alive(p)]
        time.sleep(0.1)
    for p in children:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    # what the JVM leaves behind (a killed JVM its scratch dirs, any JVM the
    # native libraries it unpacks into java.io.tmpdir)
    for path in (RUN_LOCAL, RUN_TMP):
        shutil.rmtree(path, ignore_errors=True)


def host_facts(spark=None) -> dict:
    from perfbench.procfs import mem_total_mb, nproc, task_slots

    facts = {"nproc": nproc(), "task_slots": task_slots(), "mem_total_mb": round(mem_total_mb()),
             "python": platform.python_version(), "driver_heap_mb": host_heap_mb()}
    if spark is not None:
        facts["spark"] = spark.version
        facts["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
    return facts


def emit(correct: bool, attempted: int, failed: int, metrics: dict, units: dict,
         report: dict, name: str) -> None:
    """Print every metric by name with its unit, store the full record, and
    end standard output with the result line."""
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    for k, v in report.get("extra", {}).items():
        print(f"{k} {v}")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", name + ".json"), "w") as f:
        json.dump(dict(report, metrics=metrics, correct=correct, attempted=attempted,
                       failed=failed, run_s=time.monotonic() - STARTED), f, indent=1)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}),
          flush=True)


def run_timed(args, d, meta, gen_s, facts_before) -> None:
    from perfbench.metrics import END_TO_END
    from perfbench.procfs import PeakMemory, load_and_steal, task_slots, tree_cpu_s
    from perfbench.workloads import WORKLOADS

    cores = task_slots()
    problems: list[str] = []
    setups, walls, cpus, resumes = [], [], [], []
    attempted = failed = 0
    with PeakMemory() as mem:
        # set-up: start the session (the first one also starts the JVM) and
        # load the inputs, SETUPS times, then the untimed warm-up operations
        for k in range(SETUPS):
            t0 = time.perf_counter()
            if k:
                spark.stop()
            spark = start_session(cores)
            wl = WORKLOADS[args.workload](spark, d, meta, WORK)
            wl.load()
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        # a fixed count of untimed operations (JIT and first-touch costs), so
        # every run times the same stretch of the warm-up curve
        warm_walls = []
        for k in range(1, wl.warmup_ops + 1):
            t1 = time.perf_counter()
            try:
                warm, err = wl.op(-k), None
            except Exception:  # reported as a failed check; the timed loop still runs
                warm, err = None, traceback.format_exc(limit=3)
            warm_walls.append(time.perf_counter() - t1)
            problems += [f"warm-up: {err}"] if err else wl.check(warm)
        warmup_s = time.perf_counter() - t0
        facts = host_facts(spark)
        started, timed, i = time.perf_counter(), 0.0, 1
        while (timed < args.seconds or attempted < MIN_OPS) and time.perf_counter() - started < MAX_RUN_S:
            attempted += 1
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                got, err = wl.op(i), None
            except Exception:  # an operation that raises counts as failed
                got, err = None, traceback.format_exc(limit=3)
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
            timed += wall
            bad = [err] if err else wl.check(got)
            if bad:
                failed += 1
                problems += [f"op {i}: {p}" for p in bad]
            walls.append(wall)
            cpus.append(cpu)
            resumes.append(getattr(wl, "last_resume_s", 0.0))
            i += 1
        stop_everything(spark, flush=False)
    for p in problems[:20]:
        log(f"CHECK FAILED: {p}")
    med = statistics.median(walls)
    metrics = {
        "rows_per_s": meta["rows"] / med,
        "cpu_s": statistics.median(cpus),
        "setup_s": statistics.median(setups) + warmup_s,
    }
    extra = {
        "ops": attempted, "op_wall_s_min": min(walls), "op_wall_s_median": med,
        "op_wall_s_max": max(walls), "failed_share": failed / attempted,
        "generation_s": round(gen_s, 3), "session_load_s": [round(s, 3) for s in setups],
        "warmup_s": round(warmup_s, 3), "peak_pss_mb": round(mem.peak_mb, 1),
    }
    if args.workload == "evaluate_jobs":
        extra["resume_s"] = statistics.median(resumes)
    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": 0, "host": facts, "load_before": facts_before,
              "load_after": load_and_steal(), "warmup_op_wall_s": warm_walls,
              "op_wall_s": walls, "op_cpu_s": cpus,
              "extra": extra}
    emit(not problems, attempted, failed, metrics, END_TO_END, report,
         f"{args.workload}-{args.seed}-timed")


def run_traced(args, d, meta, gen_s, facts_before) -> None:
    from perfbench import trace as T
    from perfbench.metrics import PER_LAYER
    from perfbench.procfs import load_and_steal, task_slots
    from perfbench.workloads import WORKLOADS

    cores = task_slots()
    ev_dir = os.path.join(WORK, "eventlogs", f"{args.workload}-{args.seed}-{os.getpid()}")
    t0 = time.perf_counter()
    spark = start_session(cores, event_log=ev_dir)
    session_ms = (time.perf_counter() - t0) * 1e3
    facts = host_facts(spark)
    wl = WORKLOADS[args.workload](spark, d, meta, WORK)
    wl.load()
    problems = wl.check(wl.op(0))
    untraced = []
    for i in range(1, UNTRACED_OPS + 1):
        t1 = time.perf_counter()
        got = wl.op(i)
        untraced.append(time.perf_counter() - t1)
        problems += wl.check(got)
    tracer = T.Tracer(spark.sparkContext)
    with tracer.span(args.workload) as root:
        layers = wl.trace(tracer)
    traced_ms = (root["end"] - root["start"]) * 1e3
    app_id = spark.sparkContext.applicationId
    if wl.scaling:
        layers["spark.scaling_eff_1to4"], spark = scaling_pair(spark, args, d, meta)
    stop_everything(spark)

    with open(os.path.join(ev_dir, app_id)) as f:
        parsed = T.parse_event_log(f)
    traced = {k: v for k, v in parsed["layers"].items() if k}  # jobs inside spans

    def tsum(key: str, prefix: str = "") -> int:
        return T.layer_sum(traced, key, prefix)

    layers.update({
        "session.start_ms": session_ms,
        "spark.executor_cpu_ms": tsum("cpu_ns") / 1e6,
        "spark.gc_ms": tsum("gc_ms"),
        "spark.shuffle_write_bytes": tsum("shuffle_write_bytes"),
        "spark.spill_bytes": tsum("spill_bytes"),
        "spark.tasks": tsum("tasks"),
        "spark.task_retries": tsum("task_retries"),
        "spark.task_skew": T.task_skew(parsed),
        "trace.overhead_ratio": traced_ms / (statistics.median(untraced) * 1e3),
    })
    if "pip_join.cover_ms" in layers:
        layers["pip_join.cover_python_ms"] = tsum("python_ms", "pip_join.cover")
        layers["pip_join.dim_bytes"] = tsum("broadcast_bytes", "pip_join.candidate")
    if "knn.ms" in layers:
        layers["knn.shuffle_bytes"] = tsum("shuffle_write_bytes", "knn")
        layers["match_eval.shuffle_bytes"] = tsum("shuffle_write_bytes", "match_eval")
    if "images.gate_ms" in layers:
        layers["images.python_bytes"] = tsum("python_bytes", "images.")
        layers["images.python_ms"] = tsum("python_ms", "images.")
    # a layer this workload does not run reads 0
    metrics = {k: float(layers.get(k, 0.0)) for k in PER_LAYER}
    spans = tracer.records()
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    with open(os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json"), "w") as f:
        json.dump(spans, f, indent=1)
    report = {"workload": args.workload, "seed": args.seed, "trace": 1, "host": facts,
              "load_before": facts_before, "load_after": load_and_steal(),
              "untraced_op_s": untraced, "traced_ms": traced_ms, "spans": spans,
              "event_log_layers": traced, "extra": {"generation_s": round(gen_s, 3)}}
    for p in problems[:20]:
        log(f"CHECK FAILED: {p}")
    n_ops = 1 + UNTRACED_OPS
    emit(not problems, n_ops, 0 if not problems else 1, metrics, PER_LAYER, report,
         f"{args.workload}-{args.seed}-traced")


def pin_tree(cpus: list[int]) -> None:
    """Pin every thread of this process tree (driver, JVM, Python workers)
    to ``cpus``; threads and processes started later inherit the mask."""
    from perfbench.procfs import tree_pids

    mask = ",".join(map(str, cpus))
    for p in tree_pids():
        subprocess.run(["taskset", "-a", "-p", "-c", mask, str(p)],
                       capture_output=True, check=False)


def scaling_pair(spark, args, d, meta):
    """rows/s at local[n] over n x rows/s at local[1] on the same inputs:
    each level is a fresh session in this (warm) JVM with the whole process
    tree pinned to its CPUs; one warm-up and SCALING_OPS timed operations.
    Returns (efficiency, the session left running on every CPU)."""
    from perfbench.workloads import WORKLOADS

    cpus = sorted(os.sched_getaffinity(0))
    med = {}
    for level in (1, len(cpus)):
        spark.stop()
        pin_tree(cpus[:level])
        spark = start_session(level)
        wl = WORKLOADS[args.workload](spark, d, meta, WORK)
        wl.load()
        wl.op(0)
        walls = []
        for i in range(1, SCALING_OPS + 1):
            t0 = time.perf_counter()
            wl.op(i)
            walls.append(time.perf_counter() - t0)
        med[level] = statistics.median(walls)
    return med[1] / (len(cpus) * med[len(cpus)]), spark


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import housenumbercore_spark  # the program under test, from this checkout
    except ImportError as e:
        log(f"perfbench: cannot import the engine from {ROOT}: {e}")
        return 2
    if not os.path.abspath(housenumbercore_spark.__file__).startswith(ROOT + os.sep):
        log(f"perfbench: the engine was imported from outside {ROOT}")
        return 2
    from perfbench.inputs import GENERATORS, ensure_inputs
    from perfbench.procfs import load_and_steal

    if args.workload not in GENERATORS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(GENERATORS)}")
        return 2
    # every temporary file of this run and its children stays in the work dir
    os.makedirs(RUN_TMP, exist_ok=True)
    os.environ["TMPDIR"] = RUN_TMP
    os.environ["SPARK_LOCAL_DIRS"] = RUN_LOCAL
    os.environ["PYSPARK_PYTHON"] = sys.executable
    facts_before = load_and_steal()
    d, meta, gen_s = ensure_inputs(WORK, args.workload, args.seed)
    if args.trace:
        run_traced(args, d, meta, gen_s, facts_before)
    else:
        run_timed(args, d, meta, gen_s, facts_before)
    return 0


if __name__ == "__main__":
    sys.exit(main())
