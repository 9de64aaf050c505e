"""Per-family two-parallelism scaling pairs (north rule, beyond the flagship).

`BENCH/scaling.py` evidences the N-vs-4N >=0.8 criterion on the flagship
spatial join; this harness extends the identical protocol — fresh subprocess
per parallelism level, interleaved rounds, per-level best kept — to the two
remaining hot operator families so the scaling evidence covers the
LLM-pipeline surface, not only the spatial one:

- ``minhash``: banded-LSH MinHash dedup pairs (text/dedup.py
  minhash_dedup_pairs — shingle scan, signatures, banded buckets, signature
  prefilter, exact verify) over a replicated corpus. Every word of replica
  ``r`` carries an ``·r`` suffix, so cross-replica shingles NEVER collide
  and there is no quadratic cross-replica cluster blow-up: the workload is
  REP statistically-identical copies of the base corpus's near-dup
  structure. The word mapping is injective, so every replica's TRUE
  shingle-Jaccard values equal the base corpus's exactly; the LSH
  candidate stage's recall on borderline pairs is stochastic in the hash
  draw of the renamed strings, so the verified pair count is linear in REP
  in expectation (measured ~5% below REP x base at REP=768), identical
  across parallelism levels either way — which is what the efficiency
  ratio compares. Skew from deliberately cloned clusters is a different
  experiment (BENCH/skew_lsh.py).
- ``knn``: exact multires ring-join kNN (operators/knn.py
  knn_nearest_multires, res ladder [13, 10, 8]) over lon-jittered replicated
  points against the unchanged street target dim — the same replication
  trick as BENCH/scaling.py's flagship job.

Both jobs pin intermediates eagerly (pinning.pin, localCheckpoint default)
as part of their public semantics, so a "build once, re-run the action" loop
would time only the post-pin tail. The child therefore rebuilds the
DataFrame INSIDE the timed region: each iteration pays the full
build+execute cost, which is what a production run pays per batch.

CPU containment (``SPARK_GRAFT_SCALING_PIN``, default on): each child is
launched under ``taskset -c 0..N-1`` so the "N-core" level really gets N
CPUs, the way a YARN/k8s cgroup cpuset caps a real executor container.
Without it, a ``local[2]`` JVM on this 32-core box leaks its GC, netty,
shuffle-IO and Python-worker threads onto idle cores — measured on the knn
job: 39.1 s unpinned vs 95.7 s pinned at the 2-level, i.e. the "2-core"
run was really consuming ~5 cores — which inflates the small-N baseline
and reads as a fake efficiency loss at 2→8 (0.49 unpinned vs ~0.9 pinned
for knn). Pinning also right-sizes ``Runtime.availableProcessors``-scaled
JVM pools at the 8-level (knn: 16.1 s pinned vs 22.7 s unpinned under a
32-core-visible JVM). State rows carry ``pinned`` and the two containment
models never merge. Set ``SPARK_GRAFT_SCALING_PIN=0`` for the old
slots-only behavior.

Usage:  python BENCH/scaling_ops.py                 # both jobs, both levels
        python BENCH/scaling_ops.py minhash         # one job
        python BENCH/scaling_ops.py --child minhash 8   # internal
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Replication factors sized so the PARALLEL region dominates the serial
# driver work (Catalyst planning + codegen compile + the launch gaps of
# the ~10 sequential pin jobs — fixed per run regardless of data volume,
# since rebuilding the DataFrame each iteration replans from scratch).
# eff(2→8) = T2/(4·T8) = (s+P2)/(4s+P2), so the fixed cost must be a
# small fraction of the 2-level wall for the ratio to read the OPERATOR.
# Pinned+pretouch probes on this host (rep64/192 two-point fits):
# minhash ≈ 0.46 s per REP unit at 2 cores with s2 ≈ 15 s (the banded
# signature aggregate over exploded shingles dominates), knn ≈ 1.3 s per
# REP unit with s2 ≈ 8 s — hence the defaults (~1.9 M docs / ~57.6 M
# points: the volume shape a production batch actually has, where the
# per-batch fixed cost is ~0% of the job).
REP_DOCS = int(os.environ.get("SPARK_GRAFT_SCALING_REP_DOCS", "384"))
REP_PTS = int(os.environ.get("SPARK_GRAFT_SCALING_REP_PTS", "96"))
LEVELS = tuple(
    int(x)
    for x in os.environ.get("SPARK_GRAFT_SCALING_LEVELS", "2,8").split(",")
)
# one round by default at the calibrated volumes (a full 2-round sweep is
# ~45 min of wall); the state file merges per-level minima across
# invocations, so repeat runs sharpen the evidence instead of replacing it
ROUNDS = int(os.environ.get("SPARK_GRAFT_SCALING_ROUNDS", "1"))
PIN = os.environ.get("SPARK_GRAFT_SCALING_PIN", "1") != "0"
MAX_ITERS = 3
MIN_ITERS = 2
ITER_BUDGET_S = 120.0
PARTITIONS = 64  # fixed across levels, like BENCH/scaling.py

JOBS = ("minhash", "knn")


def _replicated_docs(spark):
    """REP_DOCS linear copies of the sf corpus with disjoint shingle spaces.

    ``transform(split(text)) -> concat(word, '·', r)`` runs JVM-side inside
    the scan stage; a replica-unique suffix on EVERY word guarantees no
    k-shingle is shared across replicas, so LSH candidates (and verified
    pairs) scale exactly linearly with REP_DOCS.

    The base table MUST be repartitioned BEFORE the replicating
    transform: documents.parquet is one file → one scan task, and a
    broadcast crossJoin is map-side, so without the early exchange the
    whole REP × |docs| word-rewrite ran as a single task (measured: the
    first ~42 s of every iteration at 1-2 busy threads out of 8 — a
    harness serial phase that polluted the 2→8 efficiency reading).
    """
    from pyspark.sql import functions as F

    base = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text", "lang")
        .repartition(PARTITIONS)
    )
    rep = spark.range(REP_DOCS).select(F.col("id").cast("string").alias("r"))
    return base.crossJoin(F.broadcast(rep)).select(
        F.concat_ws("#", "doc_id", "r").alias("doc_id"),
        F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda w: F.concat(w, F.lit("·"), F.col("r")),
            ),
            " ",
        ).alias("text"),
        "lang",
    )


def _minhash_job(spark):
    from housenumbercore_spark.text import dedup as TD

    # default to the corpus-scale verify mode (int64 shingle-hash
    # intersect; tests assert value-identity with the string verify on
    # the sandbox corpora) — the string mode is the oracle-exact default
    # of the library, selectable here with SPARK_GRAFT_SCALING_VERIFY
    return TD.minhash_dedup_pairs(
        _replicated_docs(spark),
        verify_on=os.environ.get("SPARK_GRAFT_SCALING_VERIFY", "hashes"),
    )


def _knn_job(spark):
    from pyspark.sql import functions as F

    from housenumbercore_spark.operators import knn as KN
    from housenumbercore_spark.pipelines import KNN_RES_LIST
    from housenumbercore_spark.sources import streets as ST
    from housenumbercore_spark.sources import synthetic as S

    # same early-exchange rule as _replicated_docs: replicate AFTER the
    # repartition so the REP-fold row inflation runs across PARTITIONS
    # tasks instead of the base table's file count
    pts = (
        S.points_df(spark, SF_DIR)
        .select("point_id", "lon", "lat")
        .repartition(PARTITIONS)
    )
    rep = spark.range(REP_PTS).select(F.col("id").alias("r"))
    big = pts.crossJoin(F.broadcast(rep)).select(
        (F.col("point_id") * REP_PTS + F.col("r")).alias("point_id"),
        (F.col("lon") + (F.col("r") - REP_PTS / 2) * 1e-7).alias("lon"),
        F.col("lat"),
    )
    targets = ST.street_points_df(spark, SF_DIR)
    return KN.knn_nearest_multires(
        big, targets, res_list=KNN_RES_LIST, k_ring=1, n_neighbors=1
    )


_BUILDERS = {"minhash": _minhash_job, "knn": _knn_job}


def _pin_prefix(cpus: int) -> list[str]:
    """taskset prefix capping a child to CPUs 0..cpus-1 (cgroup-style).

    Empty when pinning is disabled, taskset is absent, or the level wants
    at least the whole box (then the cap is a no-op anyway).
    """
    import shutil

    if not PIN or cpus >= (os.cpu_count() or cpus):
        return []
    if shutil.which("taskset") is None:
        return []
    return ["taskset", "-c", f"0-{cpus - 1}"]


def child(job: str, cpus: int) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the pinned shingle/signature frames at REP_DOCS=768 hold ~3.8 M docs
    # of shingle arrays in block storage — size the single local-mode JVM
    # for it (spill-to-disk would silently change the measured workload)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    from housenumbercore_spark.session import get_spark

    # Pre-touch the whole heap at startup (untimed): this sandbox VM's
    # kernel page-fault/zeroing path does NOT scale with cores (measured:
    # alloc-heavy streaming aggregates 7.5 GB/s at 1 worker but 1.8 at 2
    # and 2.9 at 8, while pre-faulted streaming scales 9.8→19.9→77.3 —
    # see BENCH/BASELINE.md). Without pre-touch, the JVM's alloc-heavy
    # shuffle/explode phases serialize on page faults and the measured
    # "scaling" is the hypervisor's, not the plan's. Xms=Xmx +
    # AlwaysPreTouch faults every heap page once before the timed region,
    # so steady-state GC recycles already-mapped pages — which is also the
    # long-running-executor steady state on a real cluster.
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
    spark = get_spark(
        app_name=f"scaling-{job}-{cpus}", cores=cpus,
        shuffle_partitions=PARTITIONS,
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Xms{mem} -XX:+AlwaysPreTouch"
        },
    )
    build = _BUILDERS[job]
    # Warm-up: codegen/JIT + parquet footers + Python worker pool, and the
    # output row count for the throughput figure.
    n_rows = build(spark).count()

    best = float("inf")
    spent = 0.0
    iters = 0
    while iters < MAX_ITERS and (iters < MIN_ITERS or spent < ITER_BUDGET_S):
        spark.catalog.clearCache()
        # drop the PREVIOUS iteration's pinned blocks before timing: the
        # ContextCleaner frees localCheckpoint RDDs only after Python GC
        # collects the frames — left to chance, iterations accumulate
        # gigabytes of dead blocks and the later runs measure GC pressure
        import gc

        gc.collect()
        t0 = time.perf_counter()
        df = build(spark)  # pins run eagerly -> inside the timed region
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = min(best, dt)
        spent += dt
        iters += 1
    spark.stop()
    print(
        json.dumps(
            {
                "job": job,
                "cpus": cpus,
                "seconds": round(best, 3),
                "rows": n_rows,
                "throughput_rows_per_sec": round(n_rows / best, 1),
                "sf_dir": SF_DIR,
                "rep": REP_DOCS if job == "minhash" else REP_PTS,
                "partitions": PARTITIONS,
                # observed, not configured: True iff this process (and so
                # the JVM it spawned) really was capped to `cpus` CPUs
                "pinned": len(os.sched_getaffinity(0)) == cpus,
            }
        )
    )


def _eff(a: dict, b: dict) -> float:
    ratio = b["cpus"] / a["cpus"]
    return b["throughput_rows_per_sec"] / (ratio * a["throughput_rows_per_sec"])


def config_key(r: dict) -> tuple:
    """A state row's full measurement configuration: rows merge only when
    every field matches (slots-only and cgroup-capped runs, other inputs or
    other partition counts measure different things — see module
    docstring)."""
    return (r["job"], r["cpus"], r.get("sf_dir"), r.get("rep"),
            r.get("partitions"), bool(r.get("pinned")))


def merge_state(state: list[dict], fresh: list[dict]) -> dict[tuple, dict]:
    """{config_key: row} keeping, per configuration, the fastest row of the
    saved ``state`` and this invocation's ``fresh`` rows (host noise only
    ever slows runs down, so per-configuration minima converge on true
    capability). Saved rows whose configuration was not run this time are
    carried through unchanged, so a rerun with another job, input or
    setting never drops older evidence."""
    best: dict[tuple, dict] = {}
    for r in [*state, *fresh]:
        k = config_key(r)
        if k not in best or r["seconds"] < best[k]["seconds"]:
            best[k] = r
    return best


def parent(jobs: list[str]) -> None:
    state_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "scaling_ops_state.json"
    )
    state: list[dict] = []
    if os.path.exists(state_path):
        with open(state_path) as f:
            state = json.load(f)

    fresh: list[dict] = []
    for _ in range(ROUNDS):
        for job in jobs:
            for cpus in LEVELS:
                out = subprocess.run(
                    [*_pin_prefix(cpus), sys.executable,
                     os.path.abspath(__file__), "--child", job, str(cpus)],
                    capture_output=True, text=True, cwd=REPO_ROOT, check=True,
                )
                fresh.append(json.loads(out.stdout.strip().splitlines()[-1]))

    best = merge_state(state, fresh)
    with open(state_path, "w") as f:
        json.dump(list(best.values()), f)

    # report this invocation's configurations, with their best-known minima
    current = {(r["job"], r["cpus"]): best[config_key(r)] for r in fresh}
    for job in jobs:
        by_cpus = {c: current[(job, c)] for c in LEVELS if (job, c) in current}
        effs = {
            f"{a}->{b}": round(_eff(by_cpus[a], by_cpus[b]), 3)
            for a in by_cpus
            for b in by_cpus
            if b == 4 * a
        }
        primary = effs.get("2->8") or (
            next(iter(effs.values())) if effs else None
        )
        print(
            json.dumps(
                {
                    "metric": f"scaling-efficiency-{job}",
                    "sf_dir": SF_DIR,
                    "pinned": all(
                        bool(by_cpus[c].get("pinned")) for c in by_cpus
                    ),
                    "levels": [by_cpus[c] for c in sorted(by_cpus)],
                    "efficiency_pairs": effs,
                    "efficiency": primary,
                    "target": 0.8,
                    "pass": primary is not None and primary >= 0.8,
                }
            )
        )


if __name__ == "__main__":
    if len(sys.argv) > 3 and sys.argv[1] == "--child":
        child(sys.argv[2], int(sys.argv[3]))
    else:
        sel = [a for a in sys.argv[1:] if a in JOBS] or list(JOBS)
        parent(sel)
