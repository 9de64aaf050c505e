"""The oracle checks accept the expected result and refuse corrupted ones.

Inputs come from the real generators at reduced sizes; the expected results
are the ones the generators store, so no Spark is needed here."""

from __future__ import annotations

import copy

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, inputs


@pytest.fixture(scope="module")
def small(tmp_path_factory):
    mp = pytest.MonkeyPatch()
    for name, value in {"N_POINTS": 5000, "BND_GRID": 4, "BND_BLOCK": 2, "BND_EDGE_VERTS": 16,
                        "BND_BATCHES": 2, "BND_BATCH_POINTS": 300, "EVAL_JOBS": 4,
                        "EVAL_STREETS_PER_JOB": 5, "EVAL_HNR_PER_STREET": 10}.items():
        mp.setattr(inputs, name, value)
    work = str(tmp_path_factory.mktemp("work"))
    out = {w: inputs.ensure_inputs(work, w, 7)[:2] for w in inputs.GENERATORS}
    yield out
    mp.undo()


def test_area_aggregates_refuse_a_dropped_row(small):
    d, meta = small["assign_points"]
    pts = pd.read_parquet(f"{d}/points.parquet")
    muni, dist = inputs.rect_area_ids(pts.lon.to_numpy(), pts.lat.to_numpy())
    t = inputs.tile_ids(pts.lon.to_numpy(), pts.lat.to_numpy())
    pid = pts.point_id.to_numpy()
    area, ids, tiles = np.concatenate([muni, dist]), np.concatenate([pid, pid]), np.concatenate([t, t])
    assert checks.check_area_aggregates(inputs.area_aggregates(area, ids, tiles), meta["expect"]) == []
    dropped = inputs.area_aggregates(area[1:], ids[1:], tiles[1:])
    assert checks.check_area_aggregates(dropped, meta["expect"])


def test_area_aggregates_refuse_a_wrong_tile(small):
    _, meta = small["assign_points"]
    got = copy.deepcopy(meta["expect"])
    area = next(iter(got))
    got[area][2] ^= 1
    assert checks.check_area_aggregates(got, meta["expect"])


def test_pairs_refuse_dropped_duplicated_and_moved_rows(small):
    _, meta = small["assign_boundaries"]
    want = meta["expect"]["0"]
    assert want, "the batch should hit its areas"
    assert checks.check_pairs(list(want), want) == []
    assert checks.check_pairs(want[1:], want)
    assert checks.check_pairs(want + want[:1], want)
    moved = [tuple(p) for p in want]
    moved[0] = (moved[0][0], moved[0][1] + 1, moved[0][2])
    assert checks.check_pairs(moved, want)


def test_boundary_oracle_assigns_each_verified_photo_once_per_level(small):
    d, meta = small["assign_boundaries"]
    areas = pd.read_parquet(f"{d}/areas.parquet")
    level = dict(zip(areas.area_id, areas.admin_level))
    pairs = meta["expect"]["0"]
    quarantined = {int(i[3:]) for i in meta["tampered"] + list(meta["lossy_psnr"])}
    for lv in (6, 8):
        ids = [p for p, a, _ in pairs if level[a] == lv]
        assert len(ids) == len(set(ids)), "shared borders must not double-assign"
        # the tessellation covers the world: every verified photo lands once
        assert set(ids) == set(range(meta["rows"])) - quarantined


def test_counters_refuse_a_wrong_job_counter(small):
    _, meta = small["evaluate_jobs"]
    want = meta["expect"]["counters"]
    assert checks.check_counters(copy.deepcopy(want), want) == []
    got = copy.deepcopy(want)
    got[next(iter(got))][1] += 1
    assert checks.check_counters(got, want)
    got = copy.deepcopy(want)
    got.pop(next(iter(got)))
    assert checks.check_counters(got, want)


def test_nearest_refuses_a_wrong_street(small):
    d, meta = small["evaluate_jobs"]
    want = meta["expect"]["nearest"]
    assert checks.check_nearest(dict(want), want) == []
    got = dict(want)
    p = next(iter(got))
    got[p] += 1
    assert checks.check_nearest(got, want)
    got = dict(want)
    got.pop(p)
    assert checks.check_nearest(got, want)


def test_nearest_oracle_matches_brute_force(small):
    d, meta = small["evaluate_jobs"]
    osm = pd.read_parquet(f"{d}/osm.parquet")
    st = pd.read_parquet(f"{d}/streets.parquet")
    rad = np.radians
    dist = inputs._dist_m(rad(osm.lon.to_numpy())[:, None], rad(osm.lat.to_numpy())[:, None],
                          rad(st.slon.to_numpy())[None, :], rad(st.slat.to_numpy())[None, :])
    brute = st.street_key.to_numpy()[np.argmin(dist, axis=1)]
    got = inputs.nearest_street(osm.lon.to_numpy(), osm.lat.to_numpy(), st)
    assert (got == brute).all()


def _quarantine_rows(meta):
    rows = [(i, 999.0, True, False) for i in meta["tampered"]]
    rows += [(i, p, True, True) for i, p in meta["lossy_psnr"].items()]
    return rows


def test_quarantine_refuses_a_missed_id(small):
    _, meta = small["assign_boundaries"]
    rows = _quarantine_rows(meta)
    assert rows and checks.check_quarantine(rows, meta["tampered"], meta["lossy_psnr"]) == []
    assert checks.check_quarantine(rows[1:], meta["tampered"], meta["lossy_psnr"])


def test_quarantine_refuses_wrong_verdicts(small):
    _, meta = small["assign_boundaries"]
    rows = _quarantine_rows(meta)
    lossy = len(meta["tampered"])
    wrong_psnr = list(rows)
    i, p, *_ = wrong_psnr[lossy]
    wrong_psnr[lossy] = (i, p - 1.0, True, True)
    assert checks.check_quarantine(wrong_psnr, meta["tampered"], meta["lossy_psnr"])
    caption_passed = [(rows[0][0], 999.0, True, True)] + rows[1:]
    assert checks.check_quarantine(caption_passed, meta["tampered"], meta["lossy_psnr"])


def test_lossy_reencodes_stay_above_the_psnr_floor(small):
    _, meta = small["assign_boundaries"]
    assert meta["lossy_psnr"] and min(meta["lossy_psnr"].values()) >= 40.0


def test_verified_rows_refuse_low_psnr():
    assert checks.check_verified_rows([]) == []
    assert checks.check_verified_rows([("img1", 39.9)])


def test_resume_check():
    ok = {"computed": ["2"], "skipped": ["0", "1", "3"]}
    assert checks.check_resume(None, ok, [2], 4) == []
    assert checks.check_resume(ok, ok, [2], 4)  # the injected failure vanished
    assert checks.check_resume(None, {"computed": ["0", "1", "2", "3"], "skipped": []}, [2], 4)


def test_inputs_repeat_per_seed(tmp_path):
    a = inputs.ensure_inputs(str(tmp_path / "a"), "assign_points", 3)[1]
    b = inputs.ensure_inputs(str(tmp_path / "b"), "assign_points", 3)[1]
    c = inputs.ensure_inputs(str(tmp_path / "c"), "assign_points", 4)[1]
    assert a["expect"] == b["expect"] and a["expect"] != c["expect"]
