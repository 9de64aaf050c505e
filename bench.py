"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "throughput_rows_per_sec": ..., "rows": {...}}

The flagship metric (BASELINE.json) is spatial-join + tile-assignment
throughput in rows/sec; "value" stays the total wall seconds per the driver
contract, with throughput carried in an extra key. Run
``python BENCH/scaling.py`` for the two-parallelism-level scaling-efficiency
evidence (writes BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


# Headline set: the flagship spatial pipeline + one representative of every
# operator family. The FULL query matrix runs value-checked against DuckDB
# at sf0.01 (driver correctness gate + tests/test_parity_ops.py); the bench
# times the scale-relevant shapes at sf0.1.
HEADLINE = [
    # pure-JVM pipelines first (a finished multi-stage job leaves shuffle
    # cleanup behind that skews the NEXT query's first run by seconds on
    # this sandbox's local disk — measured; ordering isolates that)
    "pip_count_per_area",
    "pip_assignments",
    "tile_counts",
    "census_counters",
    "match_evaluation",
    "evaluation_counters",
    "street_catalog",
    "hnr_explode",
    "merge_diff",
    "text_quality",
    "text_token_stats",
    "dedup_minhash_pairs",
    "dedup_simhash_pairs",
    "sim_ann_topk",
    "stream_windowed_counts",
    # multi-round / Python-worker queries last
    "knn_nearest_street",
    "image_invariants",
    "image_decode_stats",
    # image-payload dedup family representative (round 4); its volume
    # throughput lives in BENCH/phash_scale.py
    "image_phash_neardup",
    # gate-early digest-verified assignment (round 4's payload-shaped
    # flagship, images/assign.py) — in the headline so every round's
    # BENCH_r{N}.json carries the payload number (round-4 verdict item 5);
    # its replicated-volume scaling pair lives in BENCH/image_flagship.py
    "image_gated_assign",
]


def _spin(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def host_cpus() -> str:
    """CPUs this process may run on (what ``nproc`` counts, ignoring
    OMP_NUM_THREADS) — the default local[N]."""
    return str(len(os.sched_getaffinity(0)))


def host_mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))


def host_driver_mem() -> str:
    """Default heap of the single local-mode JVM: half of MemTotal, in
    whole GiB, at least 1g — the rest stays for Python workers and the
    page cache."""
    return f"{max(1, host_mem_total_kb() // 2 // (1 << 20))}g"


def host_calibration(cpus: str) -> dict:
    """Raw-CPU speed of the box at measurement time (no Spark).

    This sandbox VM's absolute speed drifts ~2× between sessions (measured
    2026-08-19: the identical scaling.py --child 32 flagship run took
    5.40 s vs the 2.87 s recorded days earlier, with zero code change).
    Recording the host's pure-python spin throughput — single worker and
    all-cores via multiprocessing — inside every BENCH_r{N}.json makes
    cross-round comparisons interpretable: divide query seconds by the
    calibration ratio before reading a delta as a plan regression.
    """
    import multiprocessing as mp

    n = 10_000_000
    t0 = time.perf_counter()
    _spin(n)
    single = n / (time.perf_counter() - t0) / 1e6
    workers = int(cpus) if str(cpus).isdigit() else (os.cpu_count() or 8)
    with mp.Pool(workers) as pool:
        t0 = time.perf_counter()
        pool.map(_spin, [n] * workers)
        par = workers * n / (time.perf_counter() - t0) / 1e6
    return {
        "host_spin_mops_single": round(single, 1),
        "host_spin_mops_parallel": round(par, 1),
        "host_spin_workers": workers,
    }


def run_bench(sf_dir: str, cpus: str) -> dict:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # size the single local-mode JVM's heap to the host here rather than
    # baking it into the library default (session.py)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", host_driver_mem())
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from housenumbercore_spark.session import get_spark

    spark = get_spark(app_name=f"bench-{cpus}", cores=None)
    try:
        # warm the JVM + parquet footers once (not timed)
        spark.read.parquet(f"{sf_dir}/orders.parquet").count()

        queries = entrymod.queries()
        # per-query in-run median-of-N (round-3 verdict ask: the recorded
        # artifact must be noise-robust for EVERY headline query, not just
        # the flagship — this host's timing noise spans 10-20× on identical
        # runs). Each repeat re-times construction + execution: some queries
        # run eager actions (checkpoint rounds) while building, and
        # excluding those made round-1 recorded numbers irreproducible
        # under driver conditions.
        repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
        timings: dict[str, float] = {}
        timings_min: dict[str, float] = {}
        rows: dict[str, int] = {}
        for name in HEADLINE:
            q = queries[name]
            print(f"[bench] {name} ...", file=sys.stderr, flush=True)
            samples = []
            for _ in range(repeats):
                if name == "match_evaluation":
                    # the match frame is memoized (evaluation_counters
                    # shares the pin by design) — clear it so every repeat
                    # of THIS query pays the real build cost instead of
                    # the median hiding it behind two free pin reads;
                    # counters keeps the pin, which is the shape a real
                    # session runs
                    from housenumbercore_spark import pipelines as P

                    P.clear_matched_pin()
                t0 = time.perf_counter()
                df = q(spark, sf_dir)
                try:
                    df.write.format("noop").mode("overwrite").save()
                    n = -1
                except Exception:
                    n = df.count()
                samples.append(time.perf_counter() - t0)
                spark.catalog.clearCache()  # isolate per-query measurements
            samples.sort()
            timings[name] = round(samples[len(samples) // 2], 3)
            timings_min[name] = round(samples[0], 3)
            rows[name] = n

        # flagship throughput (the BASELINE.json metric): the replicated
        # flagship job — the same shape BENCH/scaling.py times — so the
        # number is comparable to BENCH/BASELINE.md and not dominated by
        # fixed per-query overhead at small sf
        rep_n = int(os.environ.get("SPARK_GRAFT_BENCH_REP", "64"))
        rep = spark.range(rep_n).select(F.col("id").alias("r"))
        from housenumbercore_spark.operators import pip_join as PJ
        from housenumbercore_spark.sources import synthetic as S

        # '*' (session.py's "all cores" value) falls back to the machine's
        # CPU count instead of crashing the whole run at the last stage
        n_cpus = int(cpus) if str(cpus).isdigit() else (os.cpu_count() or 8)
        pts = S.points_df(spark, sf_dir).repartition(n_cpus * 2)
        big = pts.crossJoin(F.broadcast(rep)).select(
            (F.col("point_id") * rep_n + F.col("r")).alias("point_id"),
            (F.col("lon") + (F.col("r") - rep_n / 2) * 1e-7).alias("lon"),
            F.col("lat"),
        )
        flag = PJ.tile_assign(
            PJ.assign_points_to_areas(
                spark, big, S.areas_df(spark, sf_dir)
            ),
            13,
        )
        n_input_points = pts.count() * rep_n
        n_rows = flag.count()  # warm-up + output row count (~2 areas/point)
        # median-of-5 WITHIN the run, with the in-run min reported alongside
        # (round-2 verdict: host noise spans 1.9–45.2 s on identical runs, so
        # the headline must not rest on a single draw; the min shows the
        # uncontended capability of the same plan)
        samples = []
        for _ in range(5):
            t0 = time.perf_counter()
            flag.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        t_flag = samples[len(samples) // 2]
        t_flag_min = samples[0]
        timings["flagship_replicated"] = round(t_flag, 3)
        timings_min["flagship_replicated"] = round(t_flag_min, 3)
        m = re.search(r"sf([\d.]+)", sf_dir)
        return {
            "metric": "spatial-join+tile-assignment",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            # in-run minima per query: the uncontended capability of the
            # same plans, for separating host noise from plan regressions
            "queries_min_sec": timings_min,
            "bench_repeats": repeats,
            "sf": float(m.group(1)) if m else None,
            # output rows/sec (one row per point × covering area — ~2 levels
            # overlap by design); input points/sec reported separately
            "throughput_rows_per_sec": round(n_rows / t_flag, 1) if t_flag else 0.0,
            "flagship_min_sec": round(t_flag_min, 3),
            "throughput_rows_per_sec_max": (
                round(n_rows / t_flag_min, 1) if t_flag_min else 0.0
            ),
            "n_rows": n_rows,
            "n_input_points": n_input_points,
            "input_points_per_sec": (
                round(n_input_points / t_flag, 1) if t_flag else 0.0
            ),
            "cpus": cpus,
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "host_nproc": int(host_cpus()),
            "host_mem_total_kb": host_mem_total_kb(),
        }
    finally:
        spark.stop()


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or host_cpus()
    # calibrate the bare host BEFORE the JVM exists, so the number is the
    # box itself, not the box minus a running Spark session
    calibration = host_calibration(cpus)
    result = run_bench(sf_dir, cpus)
    result.update(calibration)
    print(json.dumps(result))
    sys.stdout.flush()
