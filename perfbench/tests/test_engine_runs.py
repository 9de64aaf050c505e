"""Each workload at reduced size on a local Spark session: the engine's
output passes its oracle check, a corrupted copy of it fails, and the
deterministic counters of two traced runs are identical.

Slow (one Spark session, about a minute on four cores)."""

from __future__ import annotations

import pytest

from perfbench import inputs
from perfbench.metrics import DETERMINISTIC
from perfbench.trace import Tracer

SMALL = {"N_POINTS": 20_000, "BND_GRID": 4, "BND_BLOCK": 2, "BND_EDGE_VERTS": 16,
         "BND_BATCHES": 2, "BND_BATCH_POINTS": 300, "EVAL_JOBS": 4,
         "EVAL_STREETS_PER_JOB": 5, "EVAL_HNR_PER_STREET": 10}


@pytest.fixture(scope="module")
def env(tmp_path_factory):
    pytest.importorskip("housenumbercore_spark")
    from housenumbercore_spark.session import get_spark

    mp = pytest.MonkeyPatch()
    for name, value in SMALL.items():
        mp.setattr(inputs, name, value)
    work = str(tmp_path_factory.mktemp("work"))
    spark = get_spark("perfbench-tests", cores=2, shuffle_partitions=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield spark, work
    spark.stop()
    mp.undo()


def _workload(env, name):
    from perfbench.workloads import WORKLOADS

    spark, work = env
    d, meta, _ = inputs.ensure_inputs(work, name, 11)
    wl = WORKLOADS[name](spark, d, meta, work)
    wl.load()
    return wl


def test_assign_points_oracle(env):
    wl = _workload(env, "assign_points")
    got = wl.op(1)
    assert wl.check(got) == []
    area = next(iter(got))
    got[area][0] -= 1  # one assignment row dropped
    assert wl.check(got)


def test_assign_boundaries_oracle(env):
    wl = _workload(env, "assign_boundaries")
    k, rows, q = wl.op(1)
    assert wl.check((k, rows, q)) == []
    assert wl.check((k, rows[1:], q))  # a dropped assignment row
    assert wl.check((k, rows, q[1:]))  # a missed quarantine id


def test_evaluate_jobs_oracle(env):
    wl = _workload(env, "evaluate_jobs")
    counters, out_dir, first, resumed, nearest = wl.op(1)
    good = (counters, out_dir, first, resumed, nearest)
    assert wl.check(good) == []
    counters, out_dir, first, resumed, nearest = wl.op(2)
    wrong = {p: s + 1 if i == 0 else s for i, (p, s) in enumerate(nearest.items())}
    assert wl.check((counters, out_dir, first, resumed, wrong))  # a wrong nearest street
    counters, out_dir, first, resumed, nearest = wl.op(3)
    job = next(iter(counters))
    counters[job][2] += 1
    assert wl.check((counters, out_dir, first, resumed, nearest))  # a wrong job counter


@pytest.mark.parametrize("name", ["assign_points", "assign_boundaries", "evaluate_jobs"])
def test_deterministic_counters_repeat(env, name):
    wl = _workload(env, name)
    runs = []
    for _ in range(2):
        t = Tracer(wl.spark.sparkContext)
        with t.span(name):
            runs.append(wl.trace(t))
    counters = [k for k in DETERMINISTIC if k in runs[0]]
    assert counters, "the workload reports deterministic counters"
    assert {k: runs[0][k] for k in counters} == {k: runs[1][k] for k in counters}
