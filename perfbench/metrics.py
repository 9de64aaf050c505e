"""Metric names and units. BENCHMARK.json lists the same names (a test keeps
the two in step)."""

from .inputs import KNN_RES_LIST

END_TO_END = {
    "rows_per_s": "rows/s",  # input rows / median wall time of one operation
    "cpu_s": "s",  # median CPU seconds of the process tree per operation
    "setup_s": "s",  # median session start + input load of 3 set-ups, plus the warm-up ops
}

PER_LAYER = {
    "session.start_ms": "ms",
    "sources.scan_ms": "ms",
    "sources.rows": "count",
    "cells.encode_ms": "ms",
    "pip_join.pick_res_ms": "ms",
    "pip_join.cover_ms": "ms",
    "pip_join.cover_python_ms": "ms",
    "pip_join.cover_rows": "count",
    "pip_join.cover_full_share": "ratio",
    "pip_join.edges_per_partial_cell": "ratio",
    "pip_join.dim_bytes": "bytes",
    "pip_join.candidate_ms": "ms",
    "pip_join.candidate_rows": "count",
    "pip_join.candidates_per_point": "ratio",
    "pip_join.refine_ms": "ms",
    "pip_join.edge_tests": "count",
    "pip_join.refine_accept_share": "ratio",
    "pip_join.tile_assign_ms": "ms",
    "knn.ring_dim_rows": "count",
    "knn.rounds": "count",
    **{f"knn.accept_share_r{r}": "ratio" for r in KNN_RES_LIST},
    "knn.candidate_rows": "count",
    "knn.ms": "ms",
    "knn.shuffle_bytes": "bytes",
    "argmin.rows_in": "count",
    "argmin.rows_out": "count",
    "match_eval.ms": "ms",
    "match_eval.shuffle_bytes": "bytes",
    "match_eval.rows_i": "count",
    "match_eval.rows_l": "count",
    "match_eval.rows_o": "count",
    "pinning.ms": "ms",
    "pinning.rows": "count",
    "images.gate_ms": "ms",
    "images.digest_pass_share": "ratio",
    "images.decode_rows": "count",
    "images.python_bytes": "bytes",
    "images.python_ms": "ms",
    "images.quarantine_rows": "count",
    "checkpoint.write_ms": "ms",
    "checkpoint.resume_ms": "ms",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.files_written": "count",
    "checkpoint.commit_ms": "ms",
    "checkpoint.partitions_computed": "count",
    "checkpoint.partitions_skipped": "count",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.tasks": "count",
    "spark.task_retries": "count",
    "spark.task_skew": "ratio",
    "spark.scaling_eff_1to4": "ratio",
    "trace.overhead_ratio": "ratio",
}

# counters that are a pure function of the inputs: two traced runs of one
# seed must report them identically
DETERMINISTIC = (
    "pip_join.edge_tests", "pip_join.candidate_rows", "pip_join.cover_rows",
    "knn.rounds", "images.decode_rows", "images.quarantine_rows",
    "checkpoint.partitions_computed",
)
