"""Seeded input generators and their independent oracles.

Every workload's inputs are a pure function of ``(workload, seed)``. They are
written as parquet under ``<work>/inputs/<workload>-<seed>/`` together with
the expected results, computed here with numpy/pandas only (no Spark, no
engine code), and reused by later runs with the same seed.

Geometry is plain lon/lat in a 1.6 x 1.0 degree world (about 110 x 110 km),
the scale of one German district with its municipalities.
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import time
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LON0, LAT0, LON_SPAN, LAT_SPAN = 6.0, 50.0, 1.6, 1.0
RECT_GRID = 5  # 5x5 rectangular municipalities, one district per grid row
TILE_RES = 13  # tile grid resolution of the tile-assignment step
ROW_GROUPS = 16  # parquet row groups per fact file: enough read splits

# sizes, fixed per workload so every seed does the same amount of work
N_POINTS = 500_000
HOT_SHARE, HOT_SPAN = 0.3, 0.02  # 30% of the points in one ~2 km box
BND_GRID, BND_BLOCK, BND_EDGE_VERTS = 8, 4, 64  # 64 munis, 4 districts
BND_BATCHES, BND_BATCH_POINTS = 8, 2000
EVAL_JOBS, EVAL_STREETS_PER_JOB, EVAL_STREET_POINTS = 25, 40, 8
EVAL_HNR_PER_STREET = 12
KNN_RES_LIST = (14, 11, 8)  # res 8's ring-1 covers the whole world
IMG_SIDE, IMG_TAMPER_SHARE, IMG_LOSSY_SHARE = 16, 0.01, 0.01
EVAL_PARTS, EVAL_FAIL_PARTS = 2, 1  # checkpointed output partitions, injected failures

_SALT = {"assign_points": 1, "assign_boundaries": 2, "evaluate_jobs": 3}
FORMAT_VERSION = 3  # bump when a generator changes: keys the cache directory


def rng_for(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([FORMAT_VERSION, _SALT[workload], seed])


# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------

def polygon_wkb(ring: np.ndarray) -> bytes:
    """Little-endian WKB polygon with one closed exterior ring."""
    ring = np.asarray(ring, dtype="<f8")
    if not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[:1]])
    return struct.pack("<BIII", 1, 3, 1, len(ring)) + ring.tobytes()


def rect_areas() -> pd.DataFrame:
    """Nested admin grid: 25 rectangular municipalities (level 8) and 5
    districts (level 6, one per grid row). Every point of the world lies in
    exactly one area of each level."""
    cw, ch = LON_SPAN / RECT_GRID, LAT_SPAN / RECT_GRID
    rows = []
    for k in range(RECT_GRID * RECT_GRID):
        x0, y0 = LON0 + (k % RECT_GRID) * cw, LAT0 + (k // RECT_GRID) * ch
        rows.append((100 + k, 8, x0, y0, x0 + cw, y0 + ch))
    for r in range(RECT_GRID):
        rows.append((10 + r, 6, LON0, LAT0 + r * ch, LON0 + LON_SPAN, LAT0 + (r + 1) * ch))
    df = pd.DataFrame(rows, columns=["area_id", "admin_level", "xmin", "ymin", "xmax", "ymax"])
    df["polygon"] = [
        polygon_wkb(np.array([[a, b], [c, b], [c, d], [a, d]]))
        for a, b, c, d in zip(df.xmin, df.ymin, df.xmax, df.ymax)
    ]
    return df


def rect_area_ids(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(municipality id, district id) of each point by grid arithmetic."""
    cw, ch = LON_SPAN / RECT_GRID, LAT_SPAN / RECT_GRID
    gx = np.clip(np.floor((lon - LON0) / cw).astype(np.int64), 0, RECT_GRID - 1)
    gy = np.clip(np.floor((lat - LAT0) / ch).astype(np.int64), 0, RECT_GRID - 1)
    return 100 + gy * RECT_GRID + gx, 10 + gy


def tile_ids(lon: np.ndarray, lat: np.ndarray, res: int = TILE_RES) -> np.ndarray:
    """Grid cell id (res << 58 | ix << 29 | iy), the documented tile layout."""
    n = 1 << res
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return (np.int64(res) << 58) | (ix << 29) | iy


def world_points(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` points, HOT_SHARE of them inside one seeded ~2 km box. Points
    never sit exactly on a grid line (measure-zero for doubles)."""
    hot = rng.random(n) < HOT_SHARE
    hx = LON0 + rng.uniform(0.05, LON_SPAN - 0.05 - HOT_SPAN)
    hy = LAT0 + rng.uniform(0.05, LAT_SPAN - 0.05 - HOT_SPAN)
    lon = np.where(hot, hx + rng.random(n) * HOT_SPAN, LON0 + rng.random(n) * LON_SPAN)
    lat = np.where(hot, hy + rng.random(n) * HOT_SPAN, LAT0 + rng.random(n) * LAT_SPAN)
    return lon, lat


def area_aggregates(area: np.ndarray, ids: np.ndarray, tiles: np.ndarray) -> dict:
    """Per-area (row count, sum of ids, xor of tile ids): the comparison
    key for large assignment outputs."""
    df = pd.DataFrame({"a": area, "i": ids, "t": tiles})
    out = {}
    for a, g in df.groupby("a"):
        out[int(a)] = [len(g), int(g.i.sum()), int(np.bitwise_xor.reduce(g.t.to_numpy()))]
    return out


def _write(df: pd.DataFrame, path: str, row_groups: int = 1) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    size = max(1, -(-len(df) // row_groups))
    pq.write_table(table, path, row_group_size=size)


# ---------------------------------------------------------------------------
# assign_points
# ---------------------------------------------------------------------------

def gen_assign_points(rng, d: str) -> dict:
    lon, lat = world_points(rng, N_POINTS)
    pid = rng.permutation(N_POINTS).astype(np.int64) + 1
    _write(pd.DataFrame({"point_id": pid, "lon": lon, "lat": lat}),
           os.path.join(d, "points.parquet"), ROW_GROUPS)
    _write(rect_areas(), os.path.join(d, "areas.parquet"))
    muni, dist = rect_area_ids(lon, lat)
    t = tile_ids(lon, lat)
    expect = area_aggregates(np.concatenate([muni, dist]), np.concatenate([pid, pid]),
                             np.concatenate([t, t]))
    return {"rows": N_POINTS, "expect": expect}


# ---------------------------------------------------------------------------
# assign_boundaries: jagged tessellation with shared borders
# ---------------------------------------------------------------------------

def _tessellation(rng) -> dict:
    """One jagged polyline per edge of a jittered grid, shared verbatim by
    the two cells it separates: {("h"|"v", i, j): polyline}."""
    g = BND_GRID
    cw, ch = LON_SPAN / g, LAT_SPAN / g
    gx, gy = np.meshgrid(np.arange(g + 1), np.arange(g + 1), indexing="ij")
    corners = np.stack([LON0 + gx * cw, LAT0 + gy * ch], axis=-1)
    inner = (slice(1, g), slice(1, g))
    # small corner jitter keeps the areas' sizes, and so the cover work,
    # nearly the same on every seed
    corners[inner + (0,)] += rng.uniform(-0.05, 0.05, (g - 1, g - 1)) * cw
    corners[inner + (1,)] += rng.uniform(-0.05, 0.05, (g - 1, g - 1)) * ch
    t = np.linspace(0.0, 1.0, BND_EDGE_VERTS + 1)
    taper = np.sin(np.pi * t)
    edges = {}

    def jag(a, b, border: bool) -> np.ndarray:
        d = b - a
        normal = np.array([-d[1], d[0]])
        amp = 0.0 if border else 0.06
        off = rng.uniform(-1.0, 1.0, len(t)) * taper * amp
        return a + t[:, None] * d + off[:, None] * normal

    for i in range(g + 1):
        for j in range(g + 1):
            if i < g:  # horizontal edge (i,j)-(i+1,j)
                edges[("h", i, j)] = jag(corners[i, j], corners[i + 1, j], j in (0, g))
            if j < g:  # vertical edge (i,j)-(i,j+1)
                edges[("v", i, j)] = jag(corners[i, j], corners[i, j + 1], i in (0, g))
    return edges


def _block_ring(edges: dict, i0: int, j0: int, w: int, h: int) -> np.ndarray:
    """Counter-clockwise ring around grid cells [i0, i0+w) x [j0, j0+h),
    walked along the shared edge polylines (drops each polyline's last
    vertex, which is the next one's first)."""
    parts = []
    parts += [edges[("h", i, j0)][:-1] for i in range(i0, i0 + w)]
    parts += [edges[("v", i0 + w, j)][:-1] for j in range(j0, j0 + h)]
    parts += [edges[("h", i, j0 + h)][::-1][:-1] for i in range(i0 + w - 1, i0 - 1, -1)]
    parts += [edges[("v", i0, j)][::-1][:-1] for j in range(j0 + h - 1, j0 - 1, -1)]
    return np.vstack(parts)


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray casting, written independently of the engine's kernel."""
    x0, y0 = ring[:, 0], ring[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
    inside = np.zeros(len(px), dtype=bool)
    for a, b, c, e in zip(x0, y0, x1, y1):
        crosses = (b > py) != (e > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = a + (py - b) * (c - a) / (e - b)
        inside ^= crosses & (px < xi)
    return inside


def gen_assign_boundaries(rng, d: str) -> dict:
    g, b = BND_GRID, BND_BLOCK
    edges = _tessellation(rng)
    areas, rings = [], {}
    for i in range(g):
        for j in range(g):
            aid = 1000 + j * g + i
            rings[aid] = _block_ring(edges, i, j, 1, 1)
            areas.append((aid, 8))
    for bi in range(g // b):
        for bj in range(g // b):
            aid = 100 + bj * (g // b) + bi
            rings[aid] = _block_ring(edges, bi * b, bj * b, b, b)
            areas.append((aid, 6))
    adf = pd.DataFrame(areas, columns=["area_id", "admin_level"])
    bbox = np.array([[r[:, 0].min(), r[:, 1].min(), r[:, 0].max(), r[:, 1].max()]
                     for r in (rings[a] for a in adf.area_id)])
    adf["xmin"], adf["ymin"], adf["xmax"], adf["ymax"] = bbox.T
    adf["polygon"] = [polygon_wkb(rings[a]) for a in adf.area_id]
    _write(adf, os.path.join(d, "areas.parquet"))

    # one batch of geotagged photos per municipality job: uniform over the
    # municipality's bbox (so some land in its neighbours), each batch with
    # its own source table and a few tampered captions and lossy re-encodes
    jobs = rng.choice(g * g, BND_BATCHES, replace=False) + 1000
    expect, tampered, lossy_psnr, srcs, facts = {}, [], {}, [], []
    for k, job in enumerate(jobs):
        x0, y0, x1, y1 = bbox[adf.area_id.to_numpy() == job][0]
        px = rng.uniform(x0, x1, BND_BATCH_POINTS)
        py = rng.uniform(y0, y1, BND_BATCH_POINTS)
        idx = np.arange(BND_BATCH_POINTS, dtype=np.int64) + k * BND_BATCH_POINTS
        src, fact, t_ids, psnrs = photo_tables(rng, idx, px, py)
        srcs.append(src.assign(batch=k))
        facts.append(fact.assign(batch=k))
        tampered += t_ids
        lossy_psnr.update(psnrs)
        bad = set(t_ids) | set(psnrs)
        ok = np.array([image_id(i) not in bad for i in idx])
        pairs = []
        for aid, ring in rings.items():
            rx0, ry0, rx1, ry1 = ring[:, 0].min(), ring[:, 1].min(), ring[:, 0].max(), ring[:, 1].max()
            sel = np.nonzero(ok & (px >= rx0) & (px <= rx1) & (py >= ry0) & (py <= ry1))[0]
            if len(sel):
                hit = sel[points_in_ring(px[sel], py[sel], ring)]
                pairs += [(int(idx[h]), aid, int(t)) for h, t in zip(hit, tile_ids(px[hit], py[hit]))]
        expect[str(k)] = sorted(pairs)
    # one row group per batch, so a batch filter reads only its own rows
    _write(pd.concat(srcs, ignore_index=True), os.path.join(d, "source.parquet"), BND_BATCHES)
    _write(pd.concat(facts, ignore_index=True), os.path.join(d, "photos.parquet"), BND_BATCHES)
    n_vertices = [len(rings[a]) for a in adf.area_id]
    return {"rows": BND_BATCH_POINTS, "batches": BND_BATCHES, "expect": expect,
            "tampered": tampered, "lossy_psnr": lossy_psnr,
            "areas": len(adf), "vertices_median": int(np.median(n_vertices))}


# ---------------------------------------------------------------------------
# photos: a source table and a fact copy with tampered captions and lossy
# re-encodes
# ---------------------------------------------------------------------------

def image_id(i: int) -> str:
    return f"img{i:08d}"


def encode_png(px: np.ndarray) -> bytes:
    """8-bit RGB PNG, filter 0 on every row, one IDAT chunk."""
    h, w, _ = px.shape

    def chunk(tag: bytes, data: bytes) -> bytes:
        return struct.pack(">I", len(data)) + tag + data + struct.pack(
            ">I", zlib.crc32(tag + data) & 0xFFFFFFFF)

    raw = np.zeros((h, 1 + 3 * w), dtype=np.uint8)
    raw[:, 1:] = px.reshape(h, 3 * w)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw.tobytes(), 6)) + chunk(b"IEND", b""))


def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    return float("inf") if mse == 0 else 10.0 * np.log10(255.0 ** 2 / mse)


def photo_tables(rng, idx: np.ndarray, lon: np.ndarray, lat: np.ndarray):
    """→ (source, fact, tampered ids, {lossy id: psnr}). The fact table is
    the source with IMG_TAMPER_SHARE of the captions edited and
    IMG_LOSSY_SHARE of the photos re-encoded from pixels with +-2 noise;
    the PSNR of each re-encode comes from the generating pixel arrays."""
    n, s = len(idx), IMG_SIDE
    yy, xx = np.mgrid[0:s, 0:s]
    f = rng.uniform(0.2, 1.2, (n, 3, 1, 1))
    ph = rng.uniform(0, 2 * np.pi, (n, 3, 1, 1))
    px = 127.5 + 120 * np.sin(f * xx + ph) * np.cos(f * 0.7 * yy - ph)
    px = np.clip(px + rng.normal(0, 4, px.shape), 0, 255).astype(np.uint8).transpose(0, 2, 3, 1)
    ids = [image_id(i) for i in idx]
    captions = [f"photo {i}: house {h} in district {t}"
                for i, h, t in zip(idx, rng.integers(1, 200, n), rng.integers(1, 6, n))]
    src = pd.DataFrame({"image_id": ids, "bytes": [encode_png(p) for p in px],
                        "caption": captions, "lon": lon, "lat": lat})
    picks = rng.permutation(n)
    n_t, n_l = max(1, int(n * IMG_TAMPER_SHARE)), max(1, int(n * IMG_LOSSY_SHARE))
    tampered, lossy = np.sort(picks[:n_t]), np.sort(picks[n_t:n_t + n_l])
    fact = src.copy()
    fact.loc[tampered, "caption"] = [c + " (edited)" for c in fact.caption[tampered]]
    psnrs = {}
    for i in lossy:
        noisy = np.clip(px[i].astype(np.int16) + rng.integers(-2, 3, px[i].shape), 0, 255)
        noisy = noisy.astype(np.uint8)
        fact.at[i, "bytes"] = encode_png(noisy)
        psnrs[ids[i]] = psnr_db(px[i], noisy)
    return src, fact, [ids[i] for i in tampered], psnrs


# ---------------------------------------------------------------------------
# evaluate_jobs: official lists, OSM objects, streets
# ---------------------------------------------------------------------------

_SUFFIXES = np.array(["", "", "", "", "a", "A", "b", "B"])
_BUILDINGS = np.array([None, "yes", "apartments", "office", "shed", "house", "entrance"], dtype=object)


def osm_priority(building, entrance, amenity) -> int:
    """The tag-priority ladder (lower is better), written as plain Python."""
    b = (building or "").lower()
    e = (entrance or "").lower()
    best = 99
    if e in ("yes", "main", "home"):
        best = 1
    if b == "entrance":
        best = min(best, 1)
    elif b in ("yes", "office", "apartments"):
        best = min(best, 2)
    elif b:
        best = min(best, 9)
    if amenity is not None:
        best = min(best, 20)
    return best


def gen_evaluate_jobs(rng, d: str) -> dict:
    cw, ch = LON_SPAN / RECT_GRID, LAT_SPAN / RECT_GRID
    n_jobs, n_str = EVAL_JOBS, EVAL_STREETS_PER_JOB
    # streets: straight segments inside the job's grid cell, sampled points
    skeys = np.arange(n_jobs * n_str, dtype=np.int64) + 1
    job_of = (skeys - 1) // n_str
    gx, gy = job_of % RECT_GRID, job_of // RECT_GRID
    ax = LON0 + (gx + rng.uniform(0.1, 0.9, len(skeys))) * cw
    ay = LAT0 + (gy + rng.uniform(0.1, 0.9, len(skeys))) * ch
    ang = rng.uniform(0, np.pi, len(skeys))
    length = rng.uniform(0.005, 0.03, len(skeys))
    bx, by = ax + np.cos(ang) * length, ay + np.sin(ang) * length
    t = np.linspace(0, 1, EVAL_STREET_POINTS)
    street_pts = pd.DataFrame({
        "street_key": np.repeat(skeys, len(t)),
        "name": np.repeat([f"Street {k}" for k in skeys], len(t)),
        "slon": (ax[:, None] + (bx - ax)[:, None] * t).ravel(),
        "slat": (ay[:, None] + (by - ay)[:, None] * t).ravel(),
    })
    _write(street_pts, os.path.join(d, "streets.parquet"))

    flags = pd.DataFrame({"job_id": np.arange(n_jobs, dtype=np.int64),
                          "exact": rng.random(n_jobs) < 0.5})
    _write(flags, os.path.join(d, "flags.parquet"))

    # official list: housenumbers per street, with duplicates and case variants
    n_off = n_jobs * n_str * EVAL_HNR_PER_STREET
    s_idx = rng.integers(0, len(skeys), n_off)
    hnr = [f"{n}{s}" for n, s in zip(rng.integers(1, 80, n_off), rng.choice(_SUFFIXES, n_off))]
    official = pd.DataFrame({
        "source_id": rng.permutation(n_off).astype(np.int64) + 1,
        "job_id": job_of[s_idx].astype(np.int64),
        "street": [f"Street {skeys[i]}" for i in s_idx],
        "housenumber": hnr,
    })
    _write(official, os.path.join(d, "official.parquet"), 4)

    # OSM objects: located near their street
    n_osm = int(n_off * 1.2)
    s_idx = rng.integers(0, len(skeys), n_osm)
    u = rng.random(n_osm)
    # 2% sit 1.5-4 km off their street: beyond the first round's guarantee
    # and within the second's, so every seed runs the same two rounds
    far = np.where(rng.random(n_osm) < 0.02, rng.uniform(1.5, 4.0, n_osm), 0.0)
    ang = rng.uniform(0, 2 * np.pi, n_osm)
    lon = (ax[s_idx] + (bx - ax)[s_idx] * u + rng.normal(0, 3e-4, n_osm)
           + far * np.cos(ang) / (111.32 * np.cos(np.radians(50.5))))
    lat = ay[s_idx] + (by - ay)[s_idx] * u + rng.normal(0, 2e-4, n_osm) + far * np.sin(ang) / 110.57
    osm = pd.DataFrame({
        "osm_id": rng.permutation(n_osm).astype(np.int64) + 1,
        "job_id": job_of[s_idx].astype(np.int64),
        "street": [f"Street {skeys[i]}" for i in s_idx],
        "housenumber": [f"{n}{s}" for n, s in zip(rng.integers(1, 90, n_osm),
                                                   rng.choice(_SUFFIXES, n_osm))],
        "building": rng.choice(_BUILDINGS, n_osm),
        "entrance": np.where(rng.random(n_osm) < 0.1, "main", None),
        "amenity": np.where(rng.random(n_osm) < 0.05, "shop", None),
        "lon": lon, "lat": lat,
    })
    _write(osm, os.path.join(d, "osm.parquet"), 4)
    fail_on = sorted(rng.choice(EVAL_PARTS, EVAL_FAIL_PARTS, replace=False).tolist())
    return {"rows": n_off + n_osm, "fail_on": fail_on,
            "expect": expect_evaluate_jobs(official, osm, flags, street_pts)}


def expect_evaluate_jobs(official, osm, flags, street_pts) -> dict:
    """Match result, per-job counters and nearest street, in pandas/numpy."""
    exact = dict(zip(flags.job_id, flags.exact))

    def key(df):
        ex = df.job_id.map(exact).astype(bool)
        return np.where(ex, df.housenumber, df.housenumber.str.lower())

    off = official.assign(hnr_key=key(official))
    off = off.sort_values("source_id").drop_duplicates(["job_id", "street", "hnr_key"])
    o = osm.assign(hnr_key=key(osm))
    o["prio"] = [osm_priority(b, e, a) for b, e, a in zip(o.building, o.entrance, o.amenity)]
    o = o.sort_values(["prio", "osm_id"]).drop_duplicates(["job_id", "street", "hnr_key"])
    m = off[["job_id", "street", "hnr_key", "source_id"]].merge(
        o[["job_id", "street", "hnr_key", "osm_id"]], how="outer",
        on=["job_id", "street", "hnr_key"], indicator=True)
    m["t"] = m["_merge"].astype(str).map({"both": "i", "left_only": "l", "right_only": "o"})
    counters = {}
    for job, g in m.groupby("job_id"):
        t = g.t.value_counts()
        counters[str(int(job))] = [int(t.get("i", 0) + t.get("l", 0)), int(t.get("i", 0)),
                                   int(t.get("o", 0))]
    matched = {tt: [int(len(g)), int(g.source_id.fillna(0).sum()), int(g.osm_id.fillna(0).sum())]
               for tt, g in m.groupby("t")}
    nearest = nearest_street(osm.lon.to_numpy(), osm.lat.to_numpy(), street_pts)
    return {"counters": counters, "matched": matched,
            "argmin_rows_out": int(len(off) + len(o)),
            "nearest": dict(zip(map(str, osm.osm_id.tolist()), nearest.tolist()))}


def _dist_m(px, py, sx, sy) -> np.ndarray:
    """Equirectangular distance in metres between radian coordinate arrays
    (broadcasting), R = 6371 km."""
    x = (sx - px) * np.cos((py + sy) / 2)
    y = sy - py
    return np.sqrt(x * x + y * y) * 6371000.0


def nearest_street(lon, lat, street_pts, bucket_deg: float = 0.02) -> np.ndarray:
    """Exact nearest street point per query point (street_key of the winner).

    Candidates come from the 3x3 buckets around the point; the answer is
    kept only when it is closer than any point outside those buckets can
    be, and every other point is answered by brute force over all streets."""
    sx, sy = np.radians(street_pts.slon.to_numpy()), np.radians(street_pts.slat.to_numpy())
    keys = street_pts.street_key.to_numpy()
    px, py = np.radians(lon), np.radians(lat)
    bx = np.floor(street_pts.slon.to_numpy() / bucket_deg).astype(np.int64)
    by = np.floor(street_pts.slat.to_numpy() / bucket_deg).astype(np.int64)
    qx, qy = np.floor(lon / bucket_deg).astype(np.int64), np.floor(lat / bucket_deg).astype(np.int64)
    members: dict = {}
    for i, b in enumerate(zip(bx.tolist(), by.tolist())):
        members.setdefault(b, []).append(i)
    # outside the 3x3 block a target differs by >= the gap to the block's
    # edge in lat, or in lon (scaled by the smallest cos over the world)
    gap_lat = np.minimum(lat - (qy - 1) * bucket_deg, (qy + 2) * bucket_deg - lat)
    gap_lon = np.minimum(lon - (qx - 1) * bucket_deg, (qx + 2) * bucket_deg - lon)
    cos_min = np.cos(np.radians(LAT0 + LAT_SPAN + 1.0))
    bound = np.minimum(np.radians(gap_lat), np.radians(gap_lon) * cos_min) * 6371000.0 * 0.999
    out = np.full(len(lon), -1, dtype=np.int64)
    order = np.lexsort((qy, qx))
    starts = np.flatnonzero(np.r_[True, (np.diff(qx[order]) != 0) | (np.diff(qy[order]) != 0)])
    for s, e in zip(starts, np.r_[starts[1:], len(order)]):
        q = order[s:e]
        cx, cy = int(qx[q[0]]), int(qy[q[0]])
        cand = [i for dx in (-1, 0, 1) for dy in (-1, 0, 1) for i in members.get((cx + dx, cy + dy), ())]
        if not cand:
            continue
        c = np.array(cand)
        d = _dist_m(px[q, None], py[q, None], sx[None, c], sy[None, c])
        j = np.argmin(d, axis=1)
        ok = d[np.arange(len(q)), j] < bound[q]
        out[q[ok]] = keys[c[j[ok]]]
    for s in range(0, len(lon), 1024):
        q = np.flatnonzero(out[s:s + 1024] < 0) + s
        if len(q):
            d = _dist_m(px[q, None], py[q, None], sx[None, :], sy[None, :])
            out[q] = keys[np.argmin(d, axis=1)]
    return out


GENERATORS = {
    "assign_points": gen_assign_points,
    "assign_boundaries": gen_assign_boundaries,
    "evaluate_jobs": gen_evaluate_jobs,
}


def ensure_inputs(work: str, workload: str, seed: int) -> tuple[str, dict, float]:
    """→ (input dir, manifest, seconds spent generating; 0 when reused).

    Written to a private directory and published by rename, so an
    interrupted generation never leaves a directory that looks complete."""
    d = os.path.join(work, "inputs", f"{workload}-{seed}-v{FORMAT_VERSION}")
    manifest = os.path.join(d, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return d, json.load(f), 0.0
    t0 = time.perf_counter()
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = GENERATORS[workload](rng_for(workload, seed), tmp)
    meta.update(workload=workload, seed=seed)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    with open(manifest) as f:  # the same JSON types as a reused manifest
        return d, json.load(f), time.perf_counter() - t0
