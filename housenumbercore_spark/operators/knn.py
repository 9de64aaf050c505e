"""kNN / nearest-neighbour association via cell k-ring candidate expansion.

The reference associates housenumbers to streets by *name equality only*
(Workcache_Entry.normalize, /root/reference/src/de/regioosm/
theoreticalhousenumbercore/util/Workcache_Entry.java:724-791); the graft's
north rule adds geometric nearest-street matching. Design:

1. targets (streets) are replicated to every cell of the k-ring around
   their own cell — build side ~ (2k+1)² × n_targets narrow rows, broadcast.
   The ring is generated inside the plan: grid indices once per target,
   then two ``explode(sequence(-k, k))`` with a pole filter and a ``pmod``
   lon wrap — no driver-built offsets frame and no cross join;
2. points encode their cell with one codegen expression and equi-join;
3. per-candidate distance is the reference's equirectangular formula
   (dbfunctions.sql:28-50) as one codegen expression. Grid, distance and
   guarantee columns are each a single Spark-SQL parse (``F.expr``), so a
   ladder round costs one plan and no per-operator py4j round trips;
4. rank 1 per point by (distance, target_id) — deterministic ties.

Exactness contract: the ring-k result equals the global nearest neighbour
whenever the true nearest target lies within the k-ring of the point's cell
(guaranteed when the target set is dense relative to the cell size, or when
``res`` is coarse enough that the ring covers the domain). Points whose ring
has no candidate fall out; :func:`knn_nearest` can escalate them through
coarser resolutions with ``fallback_res``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..geo import cells as C
from ..geo.distance import EARTH_RADIUS_M, distance_m_col
from ..obs import job_description
from ..pinning import pin


# schema-orderability is shared infrastructure with keep_min_row; the
# canonical definition lives in operators/argmin.py
from .argmin import has_unorderable_col as _has_unorderable_col


def _q(name: str) -> str:
    """Backtick-quote a column name for Spark-SQL text."""
    return "`" + name.replace("`", "``") + "`"


def expand_targets_to_ring(
    targets: DataFrame, res: int, k: int = 1, lon: str = "slon", lat: str = "slat"
) -> DataFrame:
    """Replicate each target row to all cells of its k-ring, adding a
    ``cell`` column. One plan of codegen expressions, no driver-built
    frame: the grid indices ``__ix``/``__iy`` are computed once, two
    ``explode(sequence(-k, k))`` generate the offsets, latitude offsets
    running past a pole are FILTERED rather than clamped, and longitude
    wraps with ``pmod``. That is the covered-cell set of geo.cells.k_ring
    (clamp + dedup), but duplicate-free by construction, so the ring dim
    needs no dropDuplicates shuffle before broadcasting — except at a
    degenerate res (``2^res <= 2k+1``), where the lon wrap aliases cells."""
    n = 1 << res
    keep = [_q(c) for c in targets.columns]
    ring = (
        targets.selectExpr(
            "*", f"{C.ix_expr(lon, res)} AS __ix", f"{C.iy_expr(lat, res)} AS __iy"
        )
        .selectExpr("*", f"explode(sequence({-k}, {k})) AS __dy")
        .where(f"__iy + __dy BETWEEN 0 AND {n - 1}")
        .selectExpr("*", f"explode(sequence({-k}, {k})) AS __dx")
        .selectExpr(
            *keep,
            f"{C.pack_expr(res, f'pmod(__ix + __dx, {n}L)', '__iy + __dy')} AS cell",
        )
    )
    if n <= 2 * k + 1:
        ring = ring.dropDuplicates(ring.columns)
    return ring


#: plan-statistics size (bytes) above which the 'auto' strategy stops
#: broadcasting the ring-expanded target dim. Matches Spark's default
#: autoBroadcastJoinThreshold order of magnitude with ring-expansion
#: headroom: the dim is (2k+1)² × |targets| rows.
AUTO_BROADCAST_BYTES = 64 << 20


def _dim_strategy_auto(dim: DataFrame) -> str:
    """'broadcast' when Catalyst's size estimate for the expanded dim is
    known and small, else 'shuffle'. Unknown statistics (non-file sources)
    surface as huge sizeInBytes and correctly pick the safe shuffle path."""
    try:
        size = int(
            dim._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return "shuffle"
    return "broadcast" if 0 < size <= AUTO_BROADCAST_BYTES else "shuffle"


def knn_nearest(
    points: DataFrame,
    targets: DataFrame,
    res: int,
    k_ring: int = 1,
    n_neighbors: int = 1,
    point_id: str = "point_id",
    target_id: str = "street_key",
    lon: str = "lon",
    lat: str = "lat",
    tlon: str = "slon",
    tlat: str = "slat",
    dim_strategy: str = "broadcast",
    n_salt: int = 8,
) -> DataFrame:
    """→ points columns + (target_id, target payload, dist_m, knn_rank).

    Points with no target in their k-ring are absent from the output
    (caller may re-run them at a coarser ``res`` and union —
    :func:`knn_nearest_multires` automates exactly that).

    ``dim_strategy`` picks the candidate-join physical shape:

    - ``'broadcast'`` (default): ring-expanded targets broadcast to every
      executor — right whenever (2k+1)²×|targets| fits in memory.
    - ``'shuffle'``: salted shuffle hash join on the cell key — the path
      for national-scale target sets (reference imports Italy's 13.9 M
      addresses, ShapeReader.java:189-201) where the expanded dim exceeds
      any broadcast threshold. Salting spreads hot urban cells over
      ``n_salt`` reducers; AQE skew-join handles the residue.
    - ``'auto'``: choose by Catalyst's size estimate of the expanded dim
      (unknown stats → shuffle, the safe direction at scale).
    """
    dim = expand_targets_to_ring(targets, res, k_ring, lon=tlon, lat=tlat)
    pts = points.withColumn("__cell", C.cell_col(lon, lat, res))
    if dim_strategy == "auto":
        dim_strategy = _dim_strategy_auto(dim)
    if dim_strategy == "broadcast":
        # internal name for the dim join column — dropping 'cell' by name
        # would also clobber a points payload column called 'cell'
        dimr = dim.withColumnRenamed("cell", "__dim_cell")
        cand = pts.join(
            F.broadcast(dimr), pts["__cell"] == dimr["__dim_cell"]
        ).drop("__dim_cell", "__cell")
    elif dim_strategy == "shuffle":
        from .pip_join import salted_cell_join

        cand = salted_cell_join(pts, dim, n_salt=n_salt).drop("__cell")
    else:
        raise ValueError(f"unknown dim_strategy {dim_strategy!r}")
    cand = cand.withColumn(
        "dist_m", distance_m_col(lon, lat, tlon, tlat)
    )
    if n_neighbors == 1 and not _has_unorderable_col(cand.schema):
        # argmin as a hash aggregate: min(struct(dist, id, payload...)) is
        # map-side combinable, so the per-point candidate fan-in (ring ×
        # target density) collapses BEFORE the shuffle — |points| narrow
        # rows shuffle instead of every candidate, and no sort at all.
        # Deterministic: (dist_m, target_id) leads the struct and target_id
        # is unique, so later fields never decide the min. The window path
        # below shuffles + sorts all candidates — only needed for k > 1.
        others = [c for c in cand.columns if c != point_id]
        fields = ["dist_m", target_id] + [c for c in others if c not in ("dist_m", target_id)]
        best = cand.groupBy(point_id).agg(
            F.expr(f"min(struct({', '.join(map(_q, fields))})) AS __best")
        )
        return best.selectExpr(
            _q(point_id),
            *[f"__best.{_q(c)} AS {_q(c)}" for c in others],
            "1 AS knn_rank",
        )
    # k > 1, or a target payload column with an unorderable type (e.g. a
    # MapType tag column): rank through a window, which only ORDERS BY
    # (dist_m, target_id) and therefore accepts any payload type that the
    # argmin struct aggregate would reject with an AnalysisException.
    w = W.partitionBy(point_id).orderBy(F.col("dist_m").asc(), F.col(target_id).asc())
    out = cand.withColumn("knn_rank", F.row_number().over(w)).filter(
        F.col("knn_rank") <= n_neighbors
    )
    return out


def ring_guarantee_m(
    res: int, k: int, lon: str = "lon", lat: str = "lat"
) -> F.Column:
    """Lower bound (meters, equirectangular formula) on the distance from a
    point to ANY target outside the point's cell k-ring at ``res``.

    A target outside the ring differs by more than ``g_lon`` degrees of
    longitude or more than ``g_lat`` degrees of latitude (distance from the
    point to the nearest ring edge). Under the engine's distance formula
    d = R·sqrt((Δlon·cosφₘ)² + Δlat²):

    - Δlat ≥ g_lat alone gives d ≥ R·rad(g_lat);
    - Δlon ≥ g_lon with |Δlat| < g_lat bounds the midpoint latitude by
      |φ| + g_lat/2, so d ≥ R·rad(g_lon)·cos(|φ| + g_lat/2).

    A 0.9999 factor absorbs float rounding. If the best in-ring candidate is
    STRICTLY closer than this bound, it is provably the global nearest.

    One F.expr: the grid indices come from THE single definition
    (cells.ix_expr/iy_expr), so this bound can never drift from the join's
    actual cell assignment."""
    n = 1 << res
    cw, ch = 360.0 / n, 180.0 / n
    ix, iy = C.ix_expr(lon, res), C.iy_expr(lat, res)
    g_lon = (
        f"LEAST({lon} - (({ix} - {k}) * {cw!r}D - 180.0D),"
        f" (({ix} + 1 + {k}) * {cw!r}D - 180.0D) - {lon})"
    )
    g_lat = (
        f"LEAST({lat} - (({iy} - {k}) * {ch!r}D - 90.0D),"
        f" (({iy} + 1 + {k}) * {ch!r}D - 90.0D) - {lat})"
    )
    cos_m = f"COS(RADIANS(ABS({lat}) + {g_lat} / 2))"
    return F.expr(
        f"LEAST(RADIANS({g_lat}), RADIANS({g_lon}) * {cos_m})"
        f" * {EARTH_RADIUS_M * 0.9999!r}D"
    )


def knn_nearest_multires(
    points: DataFrame,
    targets: DataFrame,
    res_list: list[int],
    k_ring: int = 1,
    n_neighbors: int = 1,
    point_id: str = "point_id",
    target_id: str = "street_key",
    lon: str = "lon",
    lat: str = "lat",
    tlon: str = "slon",
    tlat: str = "slat",
    dim_strategy: str = "broadcast",
    n_salt: int = 8,
) -> DataFrame:
    """EXACT kNN with bounded candidate counts: run the ring join at the
    finest resolution first and accept every point whose n-th nearest
    in-ring candidate beats :func:`ring_guarantee_m`; escalate only the
    remainder to coarser resolutions. The LAST res in ``res_list`` is the
    unconditional fallback and must ring-cover the whole target domain.

    Scale shape: at a res where the ring holds O(10) targets, candidates are
    ~(2k+1)²·density·|points| instead of |points|·|targets| — the difference
    between a 10⁶-candidate round and a 10¹⁴-row cross join at the 10¹²
    target shape.

    Materialization contract: one materializing job per non-final round —
    the round's ranked+flag rows are pinned LAZILY with lineage truncated
    (pinning.py, truncate=True: retained lineage would stack one
    ring-join plan per round), and the round's sure-count is always the
    first action on the pinned frame, so that single count job executes
    the ring join AND stores the blocks at once (an eager pin would run a
    separate materialization job per round just to count right after —
    measured ~10% of the sf0.1 ladder). The accepted subset and the next
    round's anti-join then read the stored blocks, which are freed by
    RDD GC when the returned plan drops its references. No explicit cache pinning (round 1's cache+anti-join
    structure pinned |points|×k rows per round for the whole job). After
    each checkpoint a narrow count over the stored flag blocks decides
    ROUND COLLAPSE: when the ring bound already proved every point's
    neighbor, the remaining coarser rounds are skipped entirely — each
    would otherwise re-scan the points for the anti-join and run a full
    (empty) ring join. The count is a cheap driver barrier on blocks the
    eager checkpoint materialized anyway; it does not re-execute lineage.
    On a multi-executor cluster where executor loss must not restart the
    job, run with the ``reliable`` pin strategy (pinning.py) so each
    round checkpoints to durable storage."""
    sc = points.sparkSession.sparkContext
    cores = sc.defaultParallelism
    remaining = points.repartition(cores)  # decouple from input file count
    # Round collapse needs the live point count: a point whose ring holds
    # NO candidate emits zero rows from knn_nearest, so "no unsure rows"
    # alone does not prove every point was answered. The count executes
    # the repartition's shuffle map stage once; the ring-join jobs reuse
    # those shuffle files (same RDD lineage), so this is one narrow pass,
    # not a second scan. A single-res ladder never collapses (the only
    # round is the unconditional fallback), so it skips the count job.
    n_remaining = remaining.count() if len(res_list) > 1 else 0
    out: DataFrame | None = None
    for i, res in enumerate(res_list):
        with job_description(sc, f"knn round res={res} k={k_ring}"):
            last = i == len(res_list) - 1
            ranked = knn_nearest(
                remaining, targets, res, k_ring, n_neighbors,
                point_id=point_id, target_id=target_id,
                lon=lon, lat=lat, tlon=tlon, tlat=tlat,
                dim_strategy=dim_strategy, n_salt=n_salt,
            )
            if not last:
                g = ring_guarantee_m(res, k_ring, lon, lat)
                if n_neighbors == 1:
                    # one row per point already (argmin aggregate): the bound
                    # check is a plain projection, no window
                    flags = pin(
                        ranked.withColumn("__sure", F.col("dist_m") < g),
                        eager=False,
                        truncate=True,
                    )
                    drop_cols = ["__sure"]
                else:
                    wcnt = W.partitionBy(point_id)
                    flags = pin(
                        ranked.withColumn("__worst", F.max("dist_m").over(wcnt))
                        .withColumn("__cnt", F.count(F.lit(1)).over(wcnt))
                        .withColumn(
                            "__sure",
                            (F.col("__cnt") == n_neighbors) & (F.col("__worst") < g),
                        ),
                        eager=False,
                        truncate=True,
                    )
                    drop_cols = ["__worst", "__cnt", "__sure"]
                accepted = flags.filter(F.col("__sure")).drop(*drop_cols)
                out = accepted if out is None else out.unionByName(accepted)
                # __sure is constant across a point's rows (one row per point
                # at n=1; exactly n_neighbors rows per sure point at n>1, the
                # __cnt == n_neighbors guard), so the sure POINT count falls
                # out of the sure ROW count on the checkpointed blocks. Only
                # when it equals the live point count is every point answered
                # — a point whose ring held no candidate has NO rows here and
                # must still escalate to the coarser fallback rounds.
                n_sure = flags.filter(F.col("__sure")).count() // max(n_neighbors, 1)
                n_remaining -= n_sure
                if n_remaining == 0:
                    return out
                remaining = remaining.join(
                    flags.filter(F.col("__sure")).select(point_id).dropDuplicates(),
                    point_id,
                    "left_anti",
                )
            else:
                out = ranked if out is None else out.unionByName(ranked)
    return out
