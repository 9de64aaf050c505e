"""Point-in-polygon cell join: correctness vs brute-force oracle on sf0.001."""

from __future__ import annotations

from collections import OrderedDict

import numpy as np
import pytest
from pyspark.sql import functions as F

from housenumbercore_spark.geo import geometry as G
from housenumbercore_spark.operators import pip_join as PJ
from housenumbercore_spark.sources import synthetic as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def world(spark):
    pts = S.points_df(spark, SF).cache()
    areas = S.areas_df(spark, SF).cache()
    return pts, areas


def test_points_deterministic_and_skewed(spark, world):
    pts, _ = world
    pdf = pts.toPandas()
    assert pdf.point_id.is_unique
    assert ((pdf.lon >= S.LON0) & (pdf.lon <= S.LON0 + S.LON_SPAN)).all()
    frac_hot = pdf.hot.mean()
    assert 0.2 < frac_hot < 0.4  # ~30% skew


def test_cover_cells_superset(spark, world):
    pts, areas = world
    res = PJ.pick_join_res(areas)
    cover = PJ.cover_cells(areas, res).toPandas()
    # every area has at least one cover cell; municipalities don't explode
    assert set(cover.area_id) == set(areas.toPandas().area_id)
    per_area = cover.groupby("area_id").size()
    assert per_area.max() <= 2000


def test_assign_matches_bruteforce(spark, world):
    pts, areas = world
    got = (
        PJ.assign_points_to_areas(spark, pts, areas)
        .select("point_id", "area_id")
        .toPandas()
        .sort_values(["point_id", "area_id"])
        .reset_index(drop=True)
    )
    # brute-force oracle: rectangle arithmetic on pandas
    p = pts.toPandas()
    a = areas.toPandas()
    rows = []
    for _, ar in a.iterrows():
        m = (
            (p.lon >= ar.xmin)
            & (p.lon <= ar.xmax)
            & (p.lat >= ar.ymin)
            & (p.lat <= ar.ymax)
        )
        for pid in p.point_id[m]:
            rows.append((pid, ar.area_id))
    import pandas as pd

    want = (
        pd.DataFrame(rows, columns=["point_id", "area_id"])
        .sort_values(["point_id", "area_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got.point_id.values == want.point_id.values).all()
    assert (got.area_id.values == want.area_id.values).all()


def test_every_point_gets_two_levels(spark, world):
    pts, areas = world
    out = PJ.assign_points_to_areas(spark, pts, areas)
    counts = out.groupBy("point_id").count().toPandas()
    # every point lies in exactly one level-8 and one level-6 area
    assert (counts["count"] == 2).all()
    assert len(counts) == pts.count()


def test_nonrectangular_polygon_refine(spark):
    # triangle + square with hole: refine must beat the bbox cover
    tri = G.polygon_wkb([np.array([[0.0, 0.0], [10.0, 0.0], [0.0, 10.0], [0.0, 0.0]])])
    sq_hole = G.polygon_wkb(
        [
            np.array([[20.0, 20.0], [30.0, 20.0], [30.0, 30.0], [20.0, 30.0], [20.0, 20.0]]),
            np.array([[22.0, 22.0], [28.0, 22.0], [28.0, 28.0], [22.0, 28.0], [22.0, 22.0]]),
        ]
    )
    areas = spark.createDataFrame(
        [(1, bytearray(tri), 0.0, 0.0, 10.0, 10.0), (2, bytearray(sq_hole), 20.0, 20.0, 30.0, 30.0)],
        "area_id long, polygon binary, xmin double, ymin double, xmax double, ymax double",
    )
    pts = spark.createDataFrame(
        [
            (1, 1.0, 1.0),    # in triangle
            (2, 9.0, 9.0),    # in tri bbox but outside hypotenuse
            (3, 21.0, 21.0),  # in square shell
            (4, 25.0, 25.0),  # in hole
            (5, 50.0, 50.0),  # nowhere
        ],
        "point_id long, lon double, lat double",
    )
    got = (
        PJ.assign_points_to_areas(spark, pts, areas, res=6)
        .select("point_id", "area_id")
        .toPandas()
        .sort_values("point_id")
    )
    assert list(map(tuple, got.values)) == [(1, 1), (3, 2)]


def test_jvm_refine_vertex_collinear_degeneracy(spark):
    """Points whose ref→point transport segment passes EXACTLY through a
    polygon vertex (binary-exact with grid-derived coordinates) must still
    classify correctly; the strict crossing test counted zero at the vertex
    and flipped parity. Ground truth: the vectorized python covers kernel."""
    # res=3 → cell [0,45)×[0,22.5); cover_cells picks ref = cell center
    # (22.5, 11.25). Diamond vertex at center+(3,3); probes along the exact
    # ray center→vertex, plus on-edge / on-vertex points.
    diamond = np.array(
        [[25.5, 14.25], [30.0, 10.0], [35.0, 14.25], [30.0, 19.0], [25.5, 14.25]]
    )
    wkb = G.polygon_wkb([diamond])
    areas = spark.createDataFrame(
        [(1, bytearray(wkb), 25.5, 10.0, 35.0, 19.0)],
        "area_id long, polygon binary, xmin double, ymin double, xmax double, ymax double",
    )
    probes = [
        (1, 25.5 + 3.0, 14.25 + 3.0),   # exactly ON the west vertex
        (2, 25.5 + 4.5, 14.25 + 4.5),   # past the vertex on the same ray
        (3, 25.5 - 1.5, 14.25 - 1.5),   # before the vertex (outside)
        (4, 30.0, 14.25),               # interior
        (5, 30.0, 10.0),                # exactly ON the south vertex
        (6, 27.75, 12.125),             # exactly ON edge midpoint (v0→v1)
        (7, 40.0, 14.25),               # outside, east
    ]
    pts = spark.createDataFrame(probes, "point_id long, lon double, lat double")
    got = set(
        map(
            tuple,
            PJ.assign_points_to_areas(spark, pts, areas, res=3)
            .select("point_id", "area_id")
            .toPandas()
            .values,
        )
    )
    poly = G.parse_wkb(wkb)
    px = np.array([p[1] for p in probes])
    py = np.array([p[2] for p in probes])
    want = {
        (probes[i][0], 1) for i in range(len(probes)) if G.covers(poly, px, py)[i]
    }
    assert got == want


def test_jvm_refine_matches_covers_oracle_and_is_collect_free(spark, world):
    """The codegen refine agrees with the vectorized geo.geometry.covers
    kernel on every (point, area) pair of the world, and polygons never
    reach the driver through a collect."""
    import inspect

    pts, areas = world
    got = set(
        map(tuple, PJ.assign_points_to_areas(spark, pts, areas)
            .select("point_id", "area_id").collect())
    )
    p = pts.select("point_id", "lon", "lat").toPandas()
    px, py = p.lon.to_numpy(), p.lat.to_numpy()
    want = set()
    for r in areas.select("area_id", "polygon").collect():
        inside = G.covers(G.parse_wkb(bytes(r.polygon)), px, py)
        want |= {(int(pid), r.area_id) for pid in p.point_id[inside]}
    assert got == want
    assert ".collect()" not in inspect.getsource(PJ.assign_points_to_areas)


def test_salted_join_same_result(spark, world):
    pts, areas = world
    res = PJ.pick_join_res(areas)
    dim = PJ.cover_cells(areas, res)
    from housenumbercore_spark.geo import cells as C

    p2 = pts.withColumn("__cell", C.cell_col("lon", "lat", res))
    salted = PJ.salted_cell_join(p2, dim, n_salt=4).select("point_id", "area_id")
    plain = p2.join(dim, p2["__cell"] == dim["cell"]).select("point_id", "area_id")
    a = salted.toPandas().sort_values(["point_id", "area_id"]).reset_index(drop=True)
    b = plain.toPandas().sort_values(["point_id", "area_id"]).reset_index(drop=True)
    assert a.equals(b)


def test_tile_assign_pure_codegen(spark, world):
    pts, _ = world
    out = PJ.tile_assign(pts, 13)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # no UDF on the tile path
    assert out.select(F.countDistinct("tile_id")).collect()[0][0] > 10


def test_payload_cell_column_survives_join(spark, world):
    """A points payload column literally named 'cell' (one of the names
    checkpoint manifests look for) must pass through the cell joins — the
    internal dim join column is renamed, not dropped by user-visible name."""
    pts, areas = world
    from housenumbercore_spark.operators import pip_join as PJ

    tagged = pts.withColumn("cell", F.lit(42).cast("long"))
    out = PJ.assign_points_to_areas(spark, tagged, areas)
    assert "cell" in out.columns
    assert out.filter(F.col("cell") != 42).count() == 0


def test_jvm_strict_contains_excludes_boundary_point(spark):
    """predicate='contains' must reach the JVM refine: a point exactly ON
    a polygon edge is covers-included but contains-excluded."""
    from housenumbercore_spark.geo import geometry as G
    from housenumbercore_spark.operators import pip_join as PJ

    areas = spark.createDataFrame(
        [("a", bytearray(G.box_wkb(0.0, 0.0, 10.0, 10.0)))],
        "area_id string, polygon binary",
    )
    pts = spark.createDataFrame(
        [(1, 5.0, 0.0), (2, 5.0, 5.0)], "point_id int, lon double, lat double"
    )
    covers = PJ.assign_points_to_areas(
        spark, pts, areas, res=7, predicate="covers"
    )
    contains = PJ.assign_points_to_areas(
        spark, pts, areas, res=7, predicate="contains"
    )
    assert sorted(r.point_id for r in covers.collect()) == [1, 2]
    assert sorted(r.point_id for r in contains.collect()) == [2]


def test_payload_columns_named_like_refine_cols_survive(spark, world):
    """The refine payload columns are dunder-reserved (__pj_*): a points
    payload column named 'full' or 'edges' must neither crash the refine
    filter (AMBIGUOUS_REFERENCE) nor be silently dropped."""
    pts, areas = world
    tagged = (
        pts.withColumn("full", F.lit("payload-full"))
        .withColumn("edges", F.array(F.lit(1.0)))
        .withColumn("ref_inside", F.lit(False))
    )
    out = PJ.assign_points_to_areas(spark, tagged, areas)
    assert {"full", "edges", "ref_inside"} <= set(out.columns)
    row = out.select("full").first()
    assert row.full == "payload-full"
    # exact=False path keeps them too (previously drop() clobbered them)
    loose = PJ.assign_points_to_areas(spark, tagged, areas, exact=False)
    assert {"full", "edges", "ref_inside"} <= set(loose.columns)


def test_cover_cells_bad_geometry_names_area(spark):
    """A NULL/non-areal dimension geometry fails loudly WITH the area id
    (a curated-dimension data-model error, not quarantinable payload)."""
    areas = spark.createDataFrame(
        [
            (1, G.polygon_wkb([[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0),
                                (0.0, 1.0), (0.0, 0.0)]]), 0.0, 0.0, 1.0, 1.0),
            (2, None, 0.0, 0.0, 1.0, 1.0),
        ],
        "area_id int, polygon binary, xmin double, ymin double, "
        "xmax double, ymax double",
    )
    with pytest.raises(Exception, match="area_id=2"):
        PJ.cover_cells(areas, 4).collect()


def test_bad_predicate_value_error(spark, world):
    pts, areas = world
    with pytest.raises(ValueError, match="unknown predicate"):
        PJ.assign_points_to_areas(
            spark, pts, areas, predicate="contians"
        ).collect()


@pytest.fixture
def cover_builds(monkeypatch):
    """An empty, test-private cover memo; returns the list of cover builds
    (their res) made while the test runs."""
    monkeypatch.setattr(PJ, "_COVER_MEMO", OrderedDict())
    builds = []
    build = PJ._cover_plan

    def counting(areas, res, *args):
        builds.append(res)
        return build(areas, res, *args)

    monkeypatch.setattr(PJ, "_cover_plan", counting)
    return builds


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _square_areas(spark, corner):
    """One area: the square (0,0)-(10,10) with its north-east vertex at
    ``corner``; the bbox columns stay those of the square."""
    ring = np.array([[0.0, 0.0], [10.0, 0.0], corner, [0.0, 10.0], [0.0, 0.0]])
    return spark.createDataFrame(
        [(7, bytearray(G.polygon_wkb([ring])), 0.0, 0.0, 10.0, 10.0)],
        "area_id long, polygon binary, xmin double, ymin double, "
        "xmax double, ymax double",
    )


def test_cover_memo_second_call_is_a_hit(spark, world, cover_builds):
    _, areas = world
    res = PJ.pick_join_res(areas)
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        first = PJ.cover_cells(areas, res)
        # the build's own job description is restored afterwards
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    second = PJ.cover_cells(areas, res)
    assert cover_builds == [res]
    assert "MapInPandas" not in _plan(second)

    def rows(df):
        return sorted(str(tuple(r)) for r in df.collect())

    assert rows(second) == rows(first)
    # the default-res join shares the same entry
    PJ.assign_points_to_areas(spark, world[0], areas).count()
    assert cover_builds == [res]
    # and the pinned rows are those of an unmemoized build
    assert rows(second) == rows(PJ._cover_plan(areas, res, "area_id", "polygon"))


@pytest.mark.parametrize("strategy", ["local", "persist", "reliable"])
def test_cover_memo_rebuilds_when_areas_rewritten(
    spark, cover_builds, strategy, tmp_path
):
    """Rewriting the areas parquet in place with one vertex moved must
    rebuild the cover (a stale cover would keep the old assignment), under
    every pin strategy; a persist-strategy clearCache() between calls must
    not leave the memoized cover unpinned."""
    from conftest import forced_pin_strategy

    if strategy == "reliable" and spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    path = str(tmp_path / "areas.parquet")
    pts = spark.createDataFrame(
        [(1, 5.0, 5.0), (2, 10.5, 9.5)], "point_id long, lon double, lat double"
    )

    def assigned():
        areas = spark.read.parquet(path)
        out = PJ.assign_points_to_areas(spark, pts, areas)
        assert "MapInPandas" not in _plan(out)
        return sorted(r.point_id for r in out.collect())

    with forced_pin_strategy(spark, strategy):
        _square_areas(spark, [10.0, 10.0]).write.mode("overwrite").parquet(path)
        assert assigned() == [1]
        if strategy == "persist":
            spark.catalog.clearCache()
        assert assigned() == [1]
        assert len(cover_builds) == 1
        # (10.5, 9.5) lies inside once the corner moves to (12, 12)
        _square_areas(spark, [12.0, 12.0]).write.mode("overwrite").parquet(path)
        assert assigned() == [1, 2]
        assert len(cover_builds) == 2


def test_cover_memo_concurrent_callers_build_once(spark, cover_builds):
    import sys
    from concurrent.futures import ThreadPoolExecutor

    areas = _square_areas(spark, [10.0, 10.0])
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(4) as ex:
            futures = [ex.submit(PJ.cover_cells, areas, 5) for _ in range(4)]
            covers = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert cover_builds == [5]
    assert all(c is covers[0] for c in covers)
