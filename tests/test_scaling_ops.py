"""BENCH/scaling_ops.py invariants — the per-family scaling harness's
workload-linearity claim, checked small so the benchmark numbers mean what
the doc says.

The harness replicates the document corpus with a replica-unique suffix on
EVERY word, claiming (a) no k-shingle is shared across replicas, hence no
cross-replica candidate pair survives, and (b) the verified near-dup pair
set is exactly REP linear copies of the base corpus's pair set. If either
claim drifted (e.g. a tokenizer change making the suffix fold away), the
scaling efficiency figures would silently measure a different workload.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


def _load_scaling_ops():
    path = os.path.join(REPO_ROOT, "BENCH", "scaling_ops.py")
    spec = importlib.util.spec_from_file_location("scaling_ops", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def sops():
    mod = _load_scaling_ops()
    mod.SF_DIR = SF_SMALL
    mod.REP_DOCS = 2
    mod.PARTITIONS = 8
    return mod


def test_replicated_corpus_pairs_are_linear_in_rep(spark, sops):
    from housenumbercore_spark.text import dedup as TD

    base = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    base_pairs = TD.minhash_dedup_pairs(base).collect()
    rep_pairs = sops._minhash_job(spark).collect()

    # (b) exactly linear in REP — the same promise as (a): each replica
    # reproduces the base pair set, so the total is REP x base
    assert len(base_pairs) > 0
    assert len(rep_pairs) == sops.REP_DOCS * len(base_pairs), (
        f"{len(rep_pairs)} pairs vs base {len(base_pairs)} x REP "
        f"{sops.REP_DOCS}: replication is no longer workload-linear"
    )

    # (a) every surviving pair is intra-replica, and each replica's pair
    # set projects back onto the base pair set exactly
    def split(doc_id):
        b, _, r = doc_id.rpartition("#")
        return b, r

    per_replica: dict[str, set] = {}
    for row in rep_pairs:
        (a, ra), (b, rb) = split(row.doc_a), split(row.doc_b)
        assert ra == rb, f"cross-replica pair leaked: {row.doc_a} ~ {row.doc_b}"
        per_replica.setdefault(ra, set()).add(
            (a, b, row.jaccard) if a <= b else (b, a, row.jaccard)
        )
    base_set = {
        (str(r.doc_a), str(r.doc_b), r.jaccard)
        if str(r.doc_a) <= str(r.doc_b)
        else (str(r.doc_b), str(r.doc_a), r.jaccard)
        for r in base_pairs
    }
    assert set(per_replica) == {str(i) for i in range(sops.REP_DOCS)}
    for r, pairs in per_replica.items():
        assert pairs == base_set, f"replica {r} pair set diverged from base"


def test_knn_job_answers_every_replicated_point(spark, sops):
    sops.REP_PTS = 2
    out = sops._knn_job(spark)
    rows = out.groupBy().count().collect()[0][0]
    from housenumbercore_spark.sources import synthetic as S

    base_pts = S.points_df(spark, SF_SMALL).count()
    # multires ladder ends in a whole-domain fallback: every point answered
    assert rows == sops.REP_PTS * base_pts


def test_state_merge_keys_by_full_config():
    """A rerun under another configuration keeps the older rows: only rows
    whose (job, cpus, sf_dir, rep, partitions, pinned) all match compete
    for the minimum; every other saved row is carried through unchanged."""
    sops = _load_scaling_ops()
    base = {"job": "knn", "cpus": 2, "sf_dir": "/a", "rep": 96,
            "partitions": 16, "pinned": True}
    old_same = {**base, "seconds": 10.0}
    old_other = [
        {**base, "sf_dir": "/b", "seconds": 5.0},
        {**base, "rep": 192, "seconds": 6.0},
        {**base, "partitions": 32, "seconds": 7.0},
        {**base, "pinned": False, "seconds": 8.0},
        {**base, "job": "minhash", "seconds": 9.0},
    ]
    fresh = [{**base, "seconds": 12.0}, {**base, "seconds": 11.0}]
    merged = sops.merge_state([old_same, *old_other], fresh)
    assert merged[sops.config_key(base)] is old_same  # faster saved row wins
    rows = list(merged.values())
    assert len(rows) == 6
    for r in old_other:
        assert r in rows
    faster = [{**base, "seconds": 3.0}]
    assert sops.merge_state([old_same, *old_other], faster)[sops.config_key(base)] is faster[0]
