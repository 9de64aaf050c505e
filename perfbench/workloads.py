"""The batch workloads: one timed operation each, its oracle check, and a
traced variant that times every layer through the engine's public
functions.

A traced variant runs the layers as cumulative prefixes (scan, then scan +
cell encode, then + candidate join, then + exact refine, ...), each
materialized by an action inside its own span, so a layer's time is the
growth of its prefix over the one before.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

from pyspark.sql import functions as F

from housenumbercore_spark import checkpoint as CK
from housenumbercore_spark.geo import cells as C
from housenumbercore_spark.images import udfs as IU
from housenumbercore_spark.images.assign import assign_gated_images_to_areas
from housenumbercore_spark.operators import argmin as AM
from housenumbercore_spark.operators import knn as KN
from housenumbercore_spark.operators import match_eval as ME
from housenumbercore_spark.operators import pip_join as PJ
from housenumbercore_spark.pinning import pin

from . import checks
from .inputs import EVAL_PARTS, KNN_RES_LIST, TILE_RES


def _xor_agg(col: str):
    return F.expr(f"bit_xor({col})")


def _gap(a: float, b: float) -> float:
    """Growth of a cumulative prefix over the one before it (may read
    slightly negative when the layer costs less than the run-to-run noise)."""
    return a - b


def _image_idx(col: str = "image_id"):
    return F.substring(col, 4, 8).cast("long")


class Workload:
    """``op(i)`` is one timed operation; it returns what ``check`` compares
    with the oracle. ``trace(t)`` returns the per-layer metrics. A traced
    run also measures the 1 -> nproc scaling pair when ``scaling`` is set.
    ``warmup_ops``: untimed operations before timing, past the steep part
    of the JIT warm-up curve (op time and CPU) on a 4-CPU host; the curve
    keeps falling slowly after it."""

    scaling = False
    warmup_ops = 3

    def __init__(self, spark, d: str, meta: dict, work: str):
        self.spark, self.d, self.meta, self.work = spark, d, meta, work
        self.rows = meta["rows"]

    def read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.d, name))

    def _trace_pip(self, t, pts, areas, tile: bool) -> dict:
        """Cumulative prefixes of the point-in-polygon path over ``pts``
        (point_id, lon, lat)."""
        m = {}
        with t.span("sources.scan"):
            n_points = pts.agg(F.count(F.lit(1)), F.sum("lon"), F.sum("lat")).collect()[0][0]
        with t.span("pip_join.pick_res"):
            res = PJ.pick_join_res(areas)
        with t.span("cells.encode"):
            pts.select(C.cell_col("lon", "lat", res).alias("c")).agg(_xor_agg("c")).collect()
        with t.span("pip_join.cover"):
            cover = PJ.cover_cells(areas, res)
            cs = cover.agg(
                F.count(F.lit(1)), F.sum(F.col("__pj_full").cast("long")),
                F.sum(F.when(~F.col("__pj_full"), F.size("__pj_edges")))).collect()[0]
        with t.span("pip_join.candidate"):
            cand = PJ.assign_points_to_areas(self.spark, pts, areas, res=res, exact=False).count()
        with t.span("pip_join.refine"):
            exact = PJ.assign_points_to_areas(self.spark, pts, areas, res=res)
            n_exact = exact.count()
        if tile:
            with t.span("pip_join.tile_assign"):
                PJ.tile_assign(exact, TILE_RES).agg(F.count(F.lit(1)), _xor_agg("tile_id")).collect()
            m["pip_join.tile_assign_ms"] = _gap(t.ms("pip_join.tile_assign"), t.ms("pip_join.refine"))
        with t.span("counters.edge_tests"):
            dim = cover.withColumnRenamed("cell", "__dim_cell")
            p = pts.withColumn("__cell", C.cell_col("lon", "lat", res))
            edge_tests = p.join(F.broadcast(dim), p["__cell"] == dim["__dim_cell"]).agg(
                F.sum(F.size("__pj_edges"))).collect()[0][0] or 0
        partial = cs[0] - cs[1]
        m.update({
            "sources.rows": n_points,
            "sources.scan_ms": t.ms("sources.scan"),
            "cells.encode_ms": _gap(t.ms("cells.encode"), t.ms("sources.scan")),
            "pip_join.pick_res_ms": t.ms("pip_join.pick_res"),
            "pip_join.cover_ms": t.ms("pip_join.cover"),
            "pip_join.cover_rows": cs[0],
            "pip_join.cover_full_share": cs[1] / cs[0],
            "pip_join.edges_per_partial_cell": (cs[2] or 0) / partial if partial else 0.0,
            "pip_join.candidate_ms": _gap(t.ms("pip_join.candidate"),
                                          t.ms("cells.encode") + t.ms("pip_join.cover")),
            "pip_join.candidate_rows": cand,
            "pip_join.candidates_per_point": cand / n_points,
            "pip_join.refine_ms": _gap(t.ms("pip_join.refine"), t.ms("pip_join.candidate")),
            "pip_join.edge_tests": edge_tests,
            "pip_join.refine_accept_share": n_exact / cand if cand else 0.0,
        })
        return m


class AssignPoints(Workload):
    """Half a million skewed points against the 30 rectangular admin areas,
    then tile assignment; checked by per-area aggregates."""

    scaling = True

    def load(self):
        self.points = self.read("points.parquet")
        self.areas = self.read("areas.parquet")

    def op(self, i: int):
        out = PJ.tile_assign(PJ.assign_points_to_areas(self.spark, self.points, self.areas), TILE_RES)
        rows = out.groupBy("area_id").agg(
            F.count(F.lit(1)), F.sum("point_id"), _xor_agg("tile_id")).collect()
        return {int(r[0]): [int(r[1]), int(r[2]), int(r[3])] for r in rows}

    def check(self, got) -> list[str]:
        return checks.check_area_aggregates(got, self.meta["expect"])

    def trace(self, t) -> dict:
        return self._trace_pip(t, self.points, self.areas, tile=True)


class AssignBoundaries(Workload):
    """One municipality's batch of geotagged photos per operation: the
    digest gate against the batch's source table (decode and PSNR for the
    mismatches), then assignment to ~70 jagged areas with shared borders and
    tile assignment. Every call rebuilds the polygon cover."""

    scaling = True
    warmup_ops = 7

    def load(self):
        self.areas = self.read("areas.parquet")
        self.photos = self.read("photos.parquet")
        self.sources = self.read("source.parquet")

    def batch(self, k: int):
        return (self.photos.filter(F.col("batch") == k).drop("batch"),
                self.sources.filter(F.col("batch") == k).drop("batch"))

    def op(self, i: int):
        k = i % self.meta["batches"]
        photos, src = self.batch(k)
        assigned, quarantine = assign_gated_images_to_areas(
            self.spark, photos, self.areas, src_df=src, tile_res=TILE_RES)
        rows = assigned.select("image_id", "area_id", "tile_id", "psnr_db").collect()
        q = [tuple(r) for r in quarantine.select("image_id", "psnr_db", "pixels_ok", "caption_ok").collect()]
        return k, rows, q

    def check(self, got) -> list[str]:
        k, rows, q = got
        m = self.meta
        in_batch = {i for i in m["tampered"] + list(m["lossy_psnr"])
                    if int(i[3:]) // m["rows"] == k}
        return (checks.check_pairs([(int(r[0][3:]), r[1], r[2]) for r in rows], m["expect"][str(k)])
                + checks.check_verified_rows([(r[0], r[3]) for r in rows])
                + checks.check_quarantine(q, [i for i in m["tampered"] if i in in_batch],
                                          {i: v for i, v in m["lossy_psnr"].items() if i in in_batch}))

    def trace(self, t) -> dict:
        photos, src = self.batch(0)
        m = {}
        with t.span("images.gate"):
            passed, refined = IU.check_invariants_split(
                photos, src, keep_cols=("lon", "lat"), broadcast_src=True)
            n_passed = passed.count()
        with t.span("images.decode"):
            q = refined.select("psnr_db").collect()
        pts = passed.select(_image_idx().alias("point_id"), "lon", "lat")
        m.update(self._trace_pip(t, pts, self.areas, tile=True))
        m.update({
            "images.gate_ms": t.ms("images.gate"),
            "images.digest_pass_share": n_passed / self.rows,
            "images.decode_rows": sum(1 for r in q if r[0] < 999.0),
            "images.quarantine_rows": len(q),
        })
        return m


class EvaluateJobs(Workload):
    """Official lists against OSM objects for 25 jobs (first-wins dedup,
    best object, full-outer match, per-job counters), the match written per
    partition through the checkpoint runner with one injected partition
    failure and a resume, then the nearest-street ladder."""

    warmup_ops = 4

    def load(self):
        self.official = self.read("official.parquet")
        self.osm = self.read("osm.parquet")
        self.flags = self.read("flags.parquet")
        self.streets = self.read("streets.parquet")
        self.fail_on = set(self.meta["fail_on"])
        self.ckpt_root = os.path.join(self.work, "checkpoints", str(os.getpid()))
        self.last_resume_s = 0.0

    def _argmin(self):
        flags = F.broadcast(self.flags)
        off = self.official.join(flags, "job_id").withColumn(
            "hnr_key", ME.match_key("housenumber", "exact"))
        off = AM.keep_min_row(off, ["job_id", "street", "hnr_key"], ["source_id"], strategy="agg")
        osm = self.osm.join(flags, "job_id").withColumn(
            "hnr_key", ME.match_key("housenumber", "exact")).withColumn(
            "prio", ME.tag_priority_from_columns(F.col("building"), F.col("entrance"), F.col("amenity")))
        best = ME.best_osm_object(osm.select("job_id", "street", "hnr_key", "osm_id", "prio"))
        return off.select("job_id", "street", "hnr_key", "source_id"), best

    def _points(self):
        return self.osm.select(F.col("osm_id").alias("point_id"), "lon", "lat")

    @staticmethod
    def _matched_summary(m) -> dict:
        rows = m.groupBy("treffertyp").agg(
            F.count(F.lit(1)), F.coalesce(F.sum("source_id"), F.lit(0)),
            F.coalesce(F.sum("osm_id"), F.lit(0))).collect()
        return {r[0]: [int(r[1]), int(r[2]), int(r[3])] for r in rows}

    @staticmethod
    def _counters(m) -> dict:
        return {str(r[0]): [int(r[1]), int(r[2]), int(r[3])]
                for r in ME.evaluation_counters(m).collect()}

    def _publish(self, matched, out_dir: str, fail_on):
        part = matched.withColumn("part", F.pmod(F.col("job_id"), F.lit(EVAL_PARTS)))

        def build(spark, key):
            return part.filter(F.col("part") == key).drop("part")

        return CK.checkpointed_run(
            self.spark, build, list(range(EVAL_PARTS)), out_dir, input_fingerprint=self.d,
            max_concurrency=EVAL_PARTS, fail_on=fail_on)

    def _publish_with_failure(self, matched, out_dir: str, t=None):
        """First pass with the injected failure, then the resume pass."""
        shutil.rmtree(out_dir, ignore_errors=True)
        first = None
        try:
            first = self._publish(matched, out_dir, self.fail_on)
        except CK.PartitionFailure:
            pass
        t0 = time.perf_counter()
        if t is None:
            resumed = self._publish(matched, out_dir, None)
        else:
            with t.span("checkpoint.resume"):
                resumed = self._publish(matched, out_dir, None)
        return first, resumed, time.perf_counter() - t0

    def op(self, i: int):
        off, best = self._argmin()
        matched = pin(ME.match_evaluation(off, best))
        counters = self._counters(matched)
        out_dir = os.path.join(self.ckpt_root, f"op{i}")
        first, resumed, self.last_resume_s = self._publish_with_failure(matched, out_dir)
        near = KN.knn_nearest_multires(self._points(), self.streets, res_list=list(KNN_RES_LIST))
        nearest = dict(near.select("point_id", "street_key").toPandas().itertuples(index=False))
        return counters, out_dir, first, resumed, nearest

    def check(self, got) -> list[str]:
        counters, out_dir, first, resumed, nearest = got
        e = self.meta["expect"]
        problems = (checks.check_counters(counters, e["counters"])
                    + checks.check_resume(first, resumed, self.meta["fail_on"], EVAL_PARTS)
                    + checks.check_nearest(nearest, e["nearest"]))
        if not problems:
            back = CK.read_checkpointed(self.spark, out_dir)
            problems += checks.check_matched(self._matched_summary(back), e["matched"])
        shutil.rmtree(out_dir, ignore_errors=True)
        return problems

    def trace(self, t) -> dict:
        m = {}
        with t.span("sources.scan"):
            n_rows = self.official.count() + self.osm.agg(
                F.count(F.lit(1)), F.sum("lon")).collect()[0][0]
        with t.span("argmin"):
            off, best = self._argmin()
            rows_out = off.count() + best.count()
        with t.span("match_eval"):
            matched = ME.match_evaluation(off, best)
            summary = self._matched_summary(matched)
        with t.span("pinning"):
            pinned = pin(matched)
        with t.span("match_eval.counters"):
            self._counters(pinned)
            pinned_rows = pinned.count()
        out_dir = os.path.join(self.ckpt_root, "traced")
        commit = _CommitTimer()
        with commit, t.span("checkpoint.write"):
            _, resumed, _ = self._publish_with_failure(pinned, out_dir, t)
        files = [os.path.join(r, f) for r, _, fs in os.walk(out_dir) for f in fs]
        m.update({
            "checkpoint.write_ms": _gap(t.ms("checkpoint.write"), t.ms("checkpoint.resume")),
            "checkpoint.resume_ms": t.ms("checkpoint.resume"),
            "checkpoint.commit_ms": commit.ms,
            "checkpoint.bytes_written": sum(os.path.getsize(f) for f in files),
            "checkpoint.files_written": len(files),
            "checkpoint.partitions_computed": len(resumed["computed"]),
            "checkpoint.partitions_skipped": len(resumed["skipped"]),
        })
        shutil.rmtree(out_dir, ignore_errors=True)
        with t.span("knn"):
            m.update(self._trace_ladder(t))
        with t.span("counters.knn"):
            ring = KN.expand_targets_to_ring(self.streets, KNN_RES_LIST[0], 1, lon="slon", lat="slat")
            m["knn.ring_dim_rows"] = ring.count()
        m.update({
            "sources.rows": n_rows,
            "sources.scan_ms": t.ms("sources.scan"),
            "argmin.rows_in": n_rows,
            "argmin.rows_out": rows_out,
            "match_eval.ms": _gap(t.ms("match_eval"), t.ms("argmin")) + t.ms("match_eval.counters"),
            "match_eval.rows_i": summary.get("i", [0])[0],
            "match_eval.rows_l": summary.get("l", [0])[0],
            "match_eval.rows_o": summary.get("o", [0])[0],
            "pinning.ms": t.ms("pinning"),
            "pinning.rows": pinned_rows,
            "knn.ms": t.self_ms(next(s["id"] for s in t.spans if s["name"] == "knn")),
        })
        return m

    def _trace_ladder(self, t) -> dict:
        """The multi-resolution ladder one round at a time: knn_nearest at
        each resolution, accepting points whose best candidate beats
        ring_guarantee_m; the last resolution accepts every point left.
        Candidate counting runs in child spans, outside knn.ms."""
        remaining = self._points()
        n_left = remaining.count()
        m = {f"knn.accept_share_r{r}": 0.0 for r in KNN_RES_LIST}
        rounds = cand_rows = 0
        for i, res in enumerate(KNN_RES_LIST):
            if n_left == 0:
                break
            rounds += 1
            ranked = KN.knn_nearest(remaining, self.streets, res)
            last = i == len(KNN_RES_LIST) - 1
            sure = F.lit(True) if last else F.col("dist_m") < KN.ring_guarantee_m(res, 1)
            flags = pin(ranked.withColumn("__sure", sure))
            n_sure = flags.filter("__sure").count()
            with t.span("counters.knn_candidates"):
                dim = KN.expand_targets_to_ring(self.streets, res, 1, lon="slon", lat="slat")
                p = remaining.withColumn("cell", C.cell_col("lon", "lat", res))
                cand_rows += p.join(F.broadcast(dim), "cell").count()
            m[f"knn.accept_share_r{res}"] = n_sure / n_left
            n_left -= n_sure
            remaining = remaining.join(flags.filter("__sure").select("point_id"), "point_id", "left_anti")
        m["knn.rounds"] = rounds
        m["knn.candidate_rows"] = cand_rows
        return m


class _CommitTimer:
    """Times the checkpoint runner's commit step (the row statistics pass
    and the manifest write) by wrapping those two module functions for the
    duration of a ``with`` block."""

    def __init__(self):
        self.ms = 0.0
        self._lock = threading.Lock()  # the runner commits from worker threads

    def _wrap(self, fn):
        def timed(*a, **k):
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                with self._lock:
                    self.ms += (time.perf_counter() - t0) * 1e3
        return timed

    def __enter__(self):
        self._saved = CK.compute_stats, CK._commit_manifest
        CK.compute_stats, CK._commit_manifest = map(self._wrap, self._saved)
        return self

    def __exit__(self, *exc):
        CK.compute_stats, CK._commit_manifest = self._saved


WORKLOADS = {
    "assign_points": AssignPoints,
    "assign_boundaries": AssignBoundaries,
    "evaluate_jobs": EvaluateJobs,
}
