"""Large-scale point-in-polygon and kNN joins over the cell index.

This is the engine's answer to the north rule's "salted broadcast/
range-partitioned spatial joins with explicit skew splitting for hot
cells" (BASELINE.json:6). The reference's spatial pairing is a
single-process broadcast (geopandas.py:161 materializes one global vector;
datashader.py:188-191 broadcasts by zip_longest) — correct semantics, but
the 10^12-row shape needs an equi-join plan:

1. polygons → covering-cell table (bbox cover at resolution ``res``) via
   ``explode(sequence(...))`` — pure SQL;
2. points → ``cell_encode(lat, lon, res)`` — pure SQL, integer math;
3. equi-join on ``cell`` (broadcast of the cover when it is small, else a
   hash shuffle — never a nested-loop join) + bbox prefilter; the cover
   and the candidates carry ids, cells and coordinates only, never
   polygon vertices;
4. exact even-odd ray-cast refine, vectorized numpy over (points × edges)
   per polygon (``pip_inside``) against ring edges decoded from the
   polygon's ``parts`` (``_parts_edges``). After a broadcast join the
   candidates are refined map-side (``mapInArrow``, no shuffle) against
   edges collected once on the driver and shipped in the UDF closure;
   after a shuffle join they are collected per polygon, joined to its
   ``parts`` row and refined with ``mapInArrow``, one row per polygon
   group;
5. hot-cell salting, shuffle join only: cells whose point count exceeds a
   threshold get a salt ∈ [0,F); the polygon-cell side replicates F ways
   and so do the edge rows of polygons touching a hot cell. Identical
   output rows, F-way parallelism on the hot key (AQE skew-join helps
   after the fact; explicit salting keeps the *refine* UDF groups bounded
   too). The broadcast path has no shuffle key, hence no hot key to split.

Coordinates are micro-degree integers (exactly representable as doubles),
and the ray-cast formula is shared verbatim with the DuckDB oracle SQL
(``pip_refine_sql``) so join output rows are bit-identical.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from zen3geo_spark.functions.geo import (
    cell_encode, cell_from_iy_ix, cell_ix_sql, cell_iy_sql, explode_bbox_cells,
    min_cell_height_us, ring_adjacent_sql,
)


def polygon_cover_cells(polys: DataFrame, res: int) -> DataFrame:
    """Covering cells (bbox cover) per polygon at resolution ``res``.

    Input needs micro-degree bbox cols (minx_us, miny_us, maxx_us, maxy_us);
    output is the input's columns plus ``cell``, one row per cell of the
    bbox (clamped to the grid).
    """
    cells = explode_bbox_cells(polys, "miny_us", "maxy_us", "minx_us",
                               "maxx_us", res)
    return (cells.withColumn("cell", cell_from_iy_ix(F.col("iy"), F.col("ix"), res))
            .drop("iy", "ix"))


def tag_point_cells(points: DataFrame, res: int,
                    lat_col: str = "lat_us", lon_col: str = "lon_us") -> DataFrame:
    return points.withColumn("cell", cell_encode(F.col(lat_col), F.col(lon_col), res))


PIP_SCHEMA_SUFFIX = "point_id long, geom_id long, lat_us long, lon_us long"
_PIP_COLS = ["point_id", "geom_id", "lat_us", "lon_us"]


def ring_edges(x: np.ndarray, y: np.ndarray, ring_sizes) -> tuple:
    """``(x1, y1, x2, y2)`` edge arrays of rings stored flat: each vertex's
    edge runs to the next vertex of its ring, the ring's last vertex back
    to its first (``np.roll(ring, -1)`` per ring, without a ring loop)."""
    sizes = np.asarray(ring_sizes, dtype=np.int64)
    ends = np.cumsum(sizes)
    nxt = np.arange(1, len(x) + 1)
    full = sizes > 0
    nxt[ends[full] - 1] = (ends - sizes)[full]
    return x, y, x[nxt], y[nxt]


def flat_parts(parts: pa.Array) -> tuple:
    """``(x, y, ring_sizes, n_rings)`` of a ``parts`` column
    (``array<array<struct<x, y>>>``) straight from its Arrow offsets: every
    vertex flat as float64, each ring's size, each row's ring count; a null
    list counts as empty."""
    rings = parts.flatten()
    pts = rings.flatten()
    x, y = (pc.struct_field(pts, c).cast(pa.float64()).to_numpy(zero_copy_only=False)
            for c in ("x", "y"))
    return (x, y, pc.fill_null(pc.list_value_length(rings), 0).to_numpy(),
            pc.fill_null(pc.list_value_length(parts), 0).to_numpy())


def _parts_edges(parts: pa.ChunkedArray) -> tuple[np.ndarray, tuple]:
    """Vertices per row of a ``parts`` column, and every row's ring edges
    as flat ``(x1, y1, x2, y2)`` arrays in row order."""
    x, y, ring_sizes, n_rings = flat_parts(parts.combine_chunks())
    vert_end = np.r_[0, np.cumsum(ring_sizes)]
    ring_end = np.cumsum(n_rings)
    return (vert_end[ring_end] - vert_end[ring_end - n_rings],
            ring_edges(x, y, ring_sizes))


def pip_inside(px: np.ndarray, py: np.ndarray, edges: tuple) -> np.ndarray:
    """Even-odd ray cast of points (``px`` = lon, ``py`` = lat, float64)
    against one polygon's ``(x1, y1, x2, y2)`` edges → inside mask."""
    x1, y1, x2, y2 = edges
    # crossing test over (points × edge-tiles) 2-D blocks — formula
    # mirrored in pip_refine_sql(), element-for-element identical double
    # arithmetic.  Two pathologies bracketed out: (a) a per-edge Python
    # loop costs E interpreter iterations per group (10k ufunc dispatches
    # for a 10k-vertex polygon, regardless of how few points the group
    # holds); (b) fresh (N,E) result allocations per op pay first-touch
    # page faults (~100-500 µs/page on shared-tenancy hosts — measured
    # ~200x over the compute itself; earlier misattributed to 0-stride
    # broadcasting, which is actually fast).  So: tile the edge axis to
    # bound memory, PREALLOCATE the per-tile buffers once per group, and
    # run every elementwise op with ``out=`` into those buffers —
    # E/e_tile interpreter iterations, zero per-tile allocation.
    n_pts, n_edges = len(px), len(x1)
    crossings = np.zeros(n_pts, dtype=np.int64)
    e_tile = max(1, min(n_edges, 1_048_576 // max(n_pts, 1)))
    pxc = px[:, None]
    pyc = py[:, None]
    b1 = np.empty((n_pts, e_tile), dtype=bool)
    b2 = np.empty((n_pts, e_tile), dtype=bool)
    f1 = np.empty((n_pts, e_tile), dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        for j0 in range(0, n_edges, e_tile):
            j1 = min(j0 + e_tile, n_edges)
            w = j1 - j0
            B1, B2, XI = b1[:, :w], b2[:, :w], f1[:, :w]
            y1t, y2t = y1[j0:j1], y2[j0:j1]
            np.greater(y1t, pyc, out=B1)
            np.greater(y2t, pyc, out=B2)
            np.not_equal(B1, B2, out=B1)            # straddle
            np.subtract(pyc, y1t, out=XI)           # (py - y1)
            np.multiply(XI, x2[j0:j1] - x1[j0:j1], out=XI)
            np.divide(XI, y2t - y1t, out=XI)
            np.add(XI, x1[j0:j1], out=XI)           # xint
            np.less(pxc, XI, out=B2)
            np.logical_and(B1, B2, out=B1)
            crossings += B1.sum(axis=1)
    return (crossings % 2) == 1


def _edge_index(edges: DataFrame) -> tuple:
    """Every polygon's edges collected once on the driver: geom_ids sorted,
    each one's (start, length) into the flat x1/y1/x2/y2 arrays."""
    t = edges.toArrow()
    n_vert, flat = _parts_edges(t.column("parts"))
    gid = t.column("geom_id").to_numpy()
    order = np.argsort(gid)
    starts = np.cumsum(n_vert) - n_vert
    return (gid[order], starts[order], n_vert[order], *flat)


def _inside_runs(lon: np.ndarray, lat: np.ndarray, p0: np.ndarray,
                 p1: np.ndarray, e0: np.ndarray, e1: np.ndarray,
                 edges: tuple) -> np.ndarray:
    """Indices of the points inside their run's polygon: run ``i`` is points
    ``[p0[i], p1[i])`` against edges ``[e0[i], e1[i])``, one kernel call
    per run."""
    x1, y1, x2, y2 = edges
    keep = [p + np.flatnonzero(pip_inside(lon[p:q], lat[p:q],
                                          (x1[e:f], y1[e:f], x2[e:f], y2[e:f])))
            for p, q, e, f in zip(p0, p1, e0, e1)]
    return np.concatenate(keep) if keep else np.zeros(0, dtype=np.int64)


def _refine_map_side(index: tuple):
    """mapInArrow body for the broadcast path: candidates are refined in
    the partition they sit in, one kernel call per geometry run of each
    batch sorted by geom_id; edges come from ``index`` in the closure."""
    gids, starts, lens, *edges = index

    def refine(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            g = b.column("geom_id").to_numpy()
            order = np.argsort(g)
            gs = g[order]
            r0 = np.flatnonzero(np.r_[True, gs[1:] != gs[:-1]])
            missing = ~np.isin(gs[r0], gids)
            if missing.any():
                raise ValueError(
                    f"candidate geom_id {gs[r0][missing][0]} has no edge row: the "
                    "polygon source changed after points_in_polygons() snapshotted it")
            i = np.searchsorted(gids, gs[r0])
            lat = b.column("lat_us").to_numpy()[order].astype(np.float64)
            lon = b.column("lon_us").to_numpy()[order].astype(np.float64)
            inside = _inside_runs(lon, lat, r0, np.r_[r0[1:], len(gs)],
                                  starts[i], starts[i] + lens[i], edges)
            yield b.take(pa.array(order[inside]))

    return refine


def _refine_grouped(batches):
    """mapInArrow body for the shuffle path: each row is one (geom_id[,
    salt]) group, its candidates collected in ``pts`` next to its
    polygon's ``parts``; one kernel call per row."""
    for b in batches:
        if b.num_rows == 0:
            continue
        t = pa.Table.from_batches([b])
        n_vert, edges = _parts_edges(t.column("parts"))
        pts = t.column("pts").combine_chunks()
        n_pts = pc.list_value_length(pts).to_numpy()
        flat = pts.flatten()
        pid, lat, lon = (pc.struct_field(flat, c).to_numpy()
                         for c in ("point_id", "lat_us", "lon_us"))
        p1, e1 = np.cumsum(n_pts), np.cumsum(n_vert)
        k = _inside_runs(lon.astype(np.float64), lat.astype(np.float64),
                         p1 - n_pts, p1, e1 - n_vert, e1, edges)
        gid = np.repeat(t.column("geom_id").to_numpy(), n_pts)
        yield pa.RecordBatch.from_arrays(
            [pa.array(c[k]) for c in (pid, gid, lat, lon)], names=_PIP_COLS)


def pip_refine_sql(points_rel: str, edges_rel: str, engine: str = "duckdb") -> str:
    """Oracle SQL mirroring the numpy refine: points_rel(point_id, lat_us,
    lon_us) × edges_rel(geom_id, x1, y1, x2, y2) → inside pairs."""
    # double-arithmetic order mirrors the numpy kernel exactly:
    # (x2-x1) * (py-y1) as doubles, then / (y2-y1), then + x1
    return f"""
    select p.point_id, e.geom_id, p.lat_us, p.lon_us
    from {points_rel} p join {edges_rel} e
      on ((e.y1 > p.lat_us) != (e.y2 > p.lat_us))
    group by p.point_id, e.geom_id, p.lat_us, p.lon_us
    having sum(case when p.lon_us < cast(e.x2 - e.x1 as double) * cast(p.lat_us - e.y1 as double)
                                     / cast(e.y2 - e.y1 as double) + e.x1
                    then 1 else 0 end) % 2 = 1
    """


BROADCAST_CELL_ROWS = 500_000  # polygon-cell rows safe to broadcast


def points_in_polygons(points: DataFrame, polys: DataFrame, res: int = 7,
                       salt_factor: int = 0, hot_cells: DataFrame | None = None,
                       broadcast_polys: bool | None = None) -> DataFrame:
    """Exact PIP join; returns (point_id, geom_id, lat_us, lon_us).

    points: (point_id, lat_us, lon_us); polys: (geom_id, parts,
    minx_us..maxy_us) where parts coords are micro-degrees (x=lon, y=lat).

    broadcast_polys: None (default) probes the polygon-cell side with a
    LIMIT-bounded count and broadcasts only when it holds fewer than
    BROADCAST_CELL_ROWS rows — millions of polygons × covering cells would
    OOM the driver under an unconditional hint, so the big case falls
    back to the shuffle equi-join. Pass True/False to skip the probe when
    the size is known.

    Broadcast path: the (cell, geom_id, bbox) cover is broadcast, and the
    candidates are refined map-side with ``mapInArrow`` in the partition
    they already sit in, against edges collected once on the driver and
    shipped in the UDF closure. The edges are a snapshot taken when
    ``points_in_polygons`` is called; a candidate whose polygon is missing
    from it (the source changed before the frame ran) raises. There is no
    shuffle, so no hot key: ``salt_factor`` and ``hot_cells`` are ignored.

    Shuffle path: equi-join on (cell[, salt]). salt_factor > 1 splits hot
    cells F ways (hot_cells: df with `cell`; default = every cell, which
    is correct and just adds F-way fanout on the small side). Candidates
    are collected per (geom_id[, salt]) and joined to their polygon's edge
    row, then refined with ``mapInArrow``, one kernel call per group; a
    polygon's edge row replicates per salt only when it touches a hot
    cell.
    """
    pts = tag_point_cells(points, res)
    pcs = polygon_cover_cells(
        polys.select("geom_id", "minx_us", "miny_us", "maxx_us", "maxy_us"), res)
    edges = polys.select("geom_id", "parts")
    if broadcast_polys is None:
        # LIMIT-bounded planning probe: costs at most BROADCAST_CELL_ROWS exploded
        # rows, never a full count of a huge polygon table
        broadcast_polys = (pcs.limit(BROADCAST_CELL_ROWS + 1).count()
                           <= BROADCAST_CELL_ROWS)
    in_bbox = ((F.col("lat_us") >= F.col("miny_us")) & (F.col("lat_us") <= F.col("maxy_us"))
               & (F.col("lon_us") >= F.col("minx_us")) & (F.col("lon_us") <= F.col("maxx_us")))
    cand_cols = [F.col(c).cast("long").alias(c) for c in _PIP_COLS]
    if broadcast_polys:
        # explicit hint: without it AQE first materializes the cover
        # through a shuffle to learn its size — two extra serial stages
        cand = pts.join(F.broadcast(pcs), "cell").filter(in_bbox).select(cand_cols)
        return cand.mapInArrow(_refine_map_side(_edge_index(edges)),
                               schema=PIP_SCHEMA_SUFFIX)

    keys = ["geom_id"]
    if salt_factor > 1:
        if hot_cells is not None:
            hot = F.broadcast(hot_cells.select("cell").withColumn("_hot", F.lit(True)))
            pts = pts.join(hot, "cell", "left")
            pcs = pcs.join(hot, "cell", "left")
            # a polygon's edge row needs every salt only if it touches a hot cell
            edges = edges.join(pcs.filter(F.col("_hot").isNotNull())
                               .select("geom_id", "_hot").distinct(), "geom_id", "left")
            is_hot = F.col("_hot").isNotNull()
        else:
            is_hot = F.lit(True)
        pts = pts.withColumn(
            "salt", F.when(is_hot, F.pmod(F.xxhash64("point_id"), F.lit(salt_factor)))
            .otherwise(F.lit(0)).cast("int")).drop("_hot")
        salts = F.explode(F.when(is_hot, F.sequence(F.lit(0), F.lit(salt_factor - 1)))
                          .otherwise(F.array(F.lit(0)))).alias("salt")
        pcs = pcs.select("*", salts).drop("_hot")
        edges = edges.select("*", salts).drop("_hot")
        keys.append("salt")
    cand = pts.join(pcs, ["cell", *keys[1:]]).filter(in_bbox).select(
        *cand_cols, *keys[1:])
    # one row per (geom_id[, salt]) group, its candidates collected next
    # to its polygon's ``parts``: an inner join, so a polygon without
    # candidates never reaches Python. Grouping on salt keeps a hot
    # polygon's refine work split across salt_factor tasks (the whole
    # point of the salt)
    groups = cand.groupBy(*keys).agg(
        F.collect_list(F.struct("point_id", "lat_us", "lon_us")).alias("pts"))
    return groups.join(edges, keys).mapInArrow(_refine_grouped,
                                               schema=PIP_SCHEMA_SUFFIX)


def find_hot_cells(points: DataFrame, res: int, threshold: int) -> DataFrame:
    """Planning pass: cells whose point count exceeds ``threshold``.

    On the 100 TB table this runs on a sample or rides a prior stage's
    checkpoint metrics (plans/checkpoint.py records per-partition counts).
    """
    return (
        tag_point_cells(points, res)
        .groupBy("cell").agg(F.count("*").alias("n"))
        .filter(F.col("n") > threshold)
    )


def knn_join_bruteforce(queries: DataFrame, targets: DataFrame, k: int) -> DataFrame:
    """Exact kNN by full pairwise distance + per-query top-k window.

    queries: (query_id, lat_us, lon_us); targets: (target_id, lat_us,
    lon_us). Deterministic tie-break on (dist2, target_id).
    """
    q = queries.select(
        F.col("query_id"), F.col("lat_us").alias("q_lat"), F.col("lon_us").alias("q_lon")
    )
    t = targets.select(
        F.col("target_id"), F.col("lat_us").alias("t_lat"), F.col("lon_us").alias("t_lon")
    )
    from zen3geo_spark.operators._util import pair_all
    # pair-all via constant-key equi-join (BroadcastHashJoin on the small
    # query side — not a nested-loop plan); exact-baseline semantics
    pairs = pair_all(t, q).withColumn(
        "dist2",
        (F.col("q_lat") - F.col("t_lat")) * (F.col("q_lat") - F.col("t_lat"))
        + (F.col("q_lon") - F.col("t_lon")) * (F.col("q_lon") - F.col("t_lon")),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(), F.col("target_id").asc())
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "target_id", "dist2", "rk")
    )


def _knn_ring_topk(queries: DataFrame, targets: DataFrame, k: int, res: int) -> DataFrame:
    """One ring pass: candidates from the 3×3 cell ring at ``res``, then a
    per-query top-k window. Equi-join on cell — no nested-loop, no full
    cross product. At res=0 the grid is a single cell, so the ring join
    degenerates to the exact brute-force pairing."""
    from zen3geo_spark.functions.geo import cell_neighbors

    q = tag_point_cells(queries, res).select(
        "query_id", F.col("lat_us").alias("q_lat"), F.col("lon_us").alias("q_lon"),
        F.explode(cell_neighbors(F.col("cell"), res)).alias("cell"),
    )
    t = tag_point_cells(targets, res).select(
        "target_id", F.col("lat_us").alias("t_lat"), F.col("lon_us").alias("t_lon"), "cell"
    )
    pairs = q.join(t, "cell").withColumn(
        "dist2",
        (F.col("q_lat") - F.col("t_lat")) * (F.col("q_lat") - F.col("t_lat"))
        + (F.col("q_lon") - F.col("t_lon")) * (F.col("q_lon") - F.col("t_lon")),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist2").asc(), F.col("target_id").asc())
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "target_id", "dist2", "rk")
    )


def ring_guarantee_udeg(res: int) -> int:
    """Lower bound (micro-degrees) on the distance from any query point to
    the nearest point OUTSIDE its 3×3 cell ring at ``res``.

    A point outside the ring differs by ≥2 in lat row index (or lon col
    index), so at least one full intermediate cell separates the two —
    the shortest cell's height, minus slack for the integer grid
    boundaries. Conservative by construction: underestimating only
    triggers a harmless extra escalation level.
    """
    return max(min_cell_height_us(res) - 2, 0)


def knn_join_cells(queries: DataFrame, targets: DataFrame, k: int, res: int,
                   escalate: bool = True) -> DataFrame:
    """Scale path kNN: 3×3-ring candidates at ``res`` + top-k window, with
    per-query RING ESCALATION so exactness is an invariant, not a density
    assumption.

    A query is *settled* at a level when it found ≥k candidates AND its
    k-th distance is within ``ring_guarantee_udeg(res)`` — the radius the
    ring provably covers. Unsettled queries (sparse neighborhoods where
    the true k-th neighbor lies outside the 3×3 ring) are anti-joined out
    and re-run at ``res-1`` (cells 2× wider, guarantee 2× larger); at
    res=0 the single-cell grid makes the pass exact by construction, so
    the loop always terminates with brute-force-equal output. Escalation
    work is proportional to the unsettled queries only — the dense bulk
    settles at the first level. ``escalate=False`` restores the one-pass
    caller-trusts-density behavior.

    Levels are driver-side iterations (≤ res of them, typically 1); each
    level localCheckpoints its remaining-queries frame so lineage stays
    O(1) per level, and dead per-level blocks are freed eagerly.
    """
    if not escalate:
        return _knn_ring_topk(queries, targets, k, res)

    remaining = queries
    parts: list[DataFrame] = []
    r = res
    while True:
        topk = _knn_ring_topk(remaining, targets, k, r)
        if r <= 0:
            # single-cell grid: exact by construction
            parts.append(topk)
            break
        g = ring_guarantee_udeg(r)
        wq = Window.partitionBy("query_id")
        # checkpoint the per-level top-k (≤ k rows/query — result-sized):
        # the settled slice feeds the RESULT union and the settled-id set
        # feeds the anti-join, so without the cut the final action would
        # recompute every level's ring join a second time. Blocks stay
        # referenced by the returned plan and free on GC of the wrappers
        # (escalated levels hold only the unsettled sliver, so the
        # transient footprint is result-sized, not corpus-sized).
        stats = (topk
                 .withColumn("_n", F.count("*").over(wq))
                 .withColumn("_kd", F.max("dist2").over(wq))
                 ).localCheckpoint(eager=False)
        settled_cond = (F.col("_n") >= k) & (F.col("_kd") <= F.lit(g * g))
        parts.append(stats.filter(settled_cond)
                     .select("query_id", "target_id", "dist2", "rk"))
        settled_ids = stats.filter(settled_cond).select("query_id").distinct()
        remaining = (remaining.join(settled_ids, "query_id", "left_anti")
                     .localCheckpoint(eager=False))
        if remaining.count() == 0:  # materializes stats + remaining blocks
            break
        r -= 1
    from functools import reduce
    return reduce(DataFrame.unionByName, parts)


def zonal_stats(pixels: DataFrame, polys: DataFrame, res: int = 7,
                value_col: str = "value", salt_factor: int = 0,
                broadcast_polys: bool | None = None) -> DataFrame:
    """Zonal statistics: per-polygon aggregates of the raster pixels whose
    CENTERS fall inside the polygon — the classic raster×vector reduction,
    composed from the cell-keyed PIP join (same equi-join + ray-cast
    refine plan, so it scales exactly like ``points_in_polygons``).

    pixels: (pixel_id, lat_us, lon_us, value); polys: the PIP polygon
    shape. Returns (geom_id, n_px, sum_val, mean_val, min_val, max_val).
    """
    pts = pixels.select(F.col("pixel_id").alias("point_id"),
                        "lat_us", "lon_us", F.col(value_col).alias("_zv"))
    inside = points_in_polygons(
        pts.select("point_id", "lat_us", "lon_us"), polys, res=res,
        salt_factor=salt_factor, broadcast_polys=broadcast_polys)
    joined = inside.join(pts.select("point_id", "_zv"), "point_id")
    return joined.groupBy("geom_id").agg(
        F.count("*").alias("n_px"),
        F.sum("_zv").alias("sum_val"),
        F.avg("_zv").alias("mean_val"),
        F.min("_zv").alias("min_val"),
        F.max("_zv").alias("max_val"),
    )


# ---------------------------------------------------------------------------
# metric radius self-join (haversine metres, cell-ring candidates)
# ---------------------------------------------------------------------------

EARTH_R_M = 6371008.8
_M_PER_LAT_DEG = EARTH_R_M * math.pi / 180.0  # spherical meridian degree


def haversine_m_sql(lat1_us: str, lon1_us: str, lat2_us: str, lon2_us: str,
                    engine: str) -> str:
    """Engine-shared great-circle metres from micro-degree bigint columns.
    Same formula text in both engines (radians/sin/cos/asin/sqrt are ANSI
    names in Spark SQL and DuckDB) so the only cross-engine drift is
    libm ulps — callers must keep thresholds/rounding far coarser than
    that (see radius_join_points margins)."""
    def rad(c):
        return f"radians(cast({c} as double) / 1000000.0)"
    p1, p2 = rad(lat1_us), rad(lat2_us)
    a = (f"(pow(sin(({p2} - {p1}) / 2), 2) + cos({p1}) * cos({p2}) * "
         f"pow(sin(({rad(lon2_us)} - {rad(lon1_us)}) / 2), 2))")
    return f"(2.0 * {EARTH_R_M} * asin(sqrt({a})))"


def radius_join_guarantee(radius_m: float, res: int, max_abs_lat_us: int) -> None:
    """Raise unless every point pair within ``radius_m`` is guaranteed to
    sit in 3×3-ring-adjacent cells at ``res`` for |lat| ≤ max_abs_lat_us.

    Spherical bounds: Δφ ≤ R / (πRe/180); Δλ ≤ 2·asin(sin(R/2Re)/cos φmax)
    (the exact great-circle longitude swing at the worst latitude). Both
    must clear the cell span with 2% slack — exactness is a validated
    invariant, not a density assumption (same contract style as
    ring_guarantee_udeg for kNN)."""
    if res < 2:
        raise ValueError("radius_join needs res >= 2 (lon wrap math)")
    phi_max = max_abs_lat_us / 1e6
    dlat_deg = radius_m / _M_PER_LAT_DEG
    dlon_deg = 2.0 * math.degrees(
        math.asin(min(1.0, math.sin(radius_m / (2 * EARTH_R_M))
                      / math.cos(math.radians(phi_max)))))
    cell_lat = 180.0 / (1 << res)
    cell_lon = 360.0 / (1 << res)
    if dlat_deg > 0.98 * cell_lat or dlon_deg > 0.98 * cell_lon:
        raise ValueError(
            f"radius {radius_m} m not ring-covered at res {res} for "
            f"|lat|<={phi_max}: needs dlat {dlat_deg:.3f}<= {0.98*cell_lat:.3f} "
            f"and dlon {dlon_deg:.3f} <= {0.98*cell_lon:.3f} deg")


def radius_join_points(points: DataFrame, radius_m: float, res: int,
                       max_abs_lat_us: int = 83_000_000) -> DataFrame:
    """All point pairs within ``radius_m`` great-circle metres, for points
    with |lat| ≤ ``max_abs_lat_us`` (polar caps need a coarser res or a
    cap-local pass — out of contract here, validated at call time).

    Scale shape: cell equi-join only. Copy A explodes its 3×3 ring
    (×9 fanout), copy B keeps its own cell; the hash join on ``cell``
    never degenerates to a nested loop, candidate groups are bounded by
    cell occupancy (hot cells can reuse the PIP salting pattern), and
    the haversine refine + ``id_a < id_b`` dedup run inside codegen.
    Output: (id_a, id_b, dist_hm) with dist_hm = floor(metres/100) —
    hectometre buckets keep the value hash immune to libm-ulp drift.
    """
    from zen3geo_spark.functions.geo import cell_neighbors

    radius_join_guarantee(radius_m, res, max_abs_lat_us)
    pts = points.filter(F.abs(F.col("lat_us")) <= max_abs_lat_us)
    a = tag_point_cells(pts, res).select(
        F.col("point_id").alias("id_a"), F.col("lat_us").alias("a_lat"),
        F.col("lon_us").alias("a_lon"),
        F.explode(cell_neighbors(F.col("cell"), res)).alias("cell"))
    b = tag_point_cells(pts, res).select(
        F.col("point_id").alias("id_b"), F.col("lat_us").alias("b_lat"),
        F.col("lon_us").alias("b_lon"), "cell")
    hav = haversine_m_sql("a_lat", "a_lon", "b_lat", "b_lon", "spark")
    return (a.join(b, "cell")
             .filter(F.col("id_a") < F.col("id_b"))
             .filter(F.expr(hav) <= F.lit(float(radius_m)))
             .selectExpr("id_a", "id_b",
                         f"cast(floor({hav} / 100.0) as bigint) as dist_hm"))


def radius_join_sql_duckdb(points_rel: str, radius_m: float, res: int,
                           max_abs_lat_us: int = 83_000_000) -> str:
    """DuckDB twin: same cell grid, ring adjacency as |Δiy|≤1 ∧ (|Δix|≤1 ∨
    wrap), same haversine text, same hectometre bucket.

    Composes after an existing WITH chain that exposes ``points_rel``
    (point_id, lat_us, lon_us) — the returned string starts with
    ``, pr as (...)`` like the other oracle CTE fragments."""
    radius_join_guarantee(radius_m, res, max_abs_lat_us)
    iy = cell_iy_sql("lat_us", res, "duckdb")
    ix = cell_ix_sql("lon_us", res, "duckdb")
    hav = haversine_m_sql("a.lat_us", "a.lon_us", "b.lat_us", "b.lon_us",
                          "duckdb")
    return f"""
, pr as (
  select point_id, lat_us, lon_us, {iy} as iy, {ix} as ix
  from {points_rel} where abs(lat_us) <= {max_abs_lat_us}
)
select a.point_id as id_a, b.point_id as id_b,
       cast(floor({hav} / 100.0) as bigint) as dist_hm
from pr a join pr b
  on {ring_adjacent_sql(("a.iy", "a.ix"), ("b.iy", "b.ix"), res)}
 and a.point_id < b.point_id
where {hav} <= {float(radius_m)}
"""


# ---------------------------------------------------------------------------
# STR (Sort-Tile-Recursive) leaf packing — Leutenegger et al. 1997, the
# packing shapely.STRtree uses (the reference's PIP strategy per
# BASELINE.json's north_star). Here it builds the PARTITIONER: leaf
# rectangles that tile the data adaptively, the spatial analogue of
# repartitionByRange for co-located joins.
# ---------------------------------------------------------------------------

def str_pack_points(points: DataFrame, leaf_cap: int,
                    id_col: str = "point_id",
                    x_col: str = "lon_us", y_col: str = "lat_us") -> DataFrame:
    """Pack points into STR leaves of ``leaf_cap``: slice the x-order
    into ceil(sqrt(N/cap)) vertical strips of cap·S consecutive points,
    then cut each strip into leaves of ``leaf_cap`` by y-order. Output:
    ``(leaf_id, n_pts, minx_us, maxx_us, miny_us, maxy_us)`` — the leaf
    bbox directory (a level-1 R-tree, exactly the STRtree bulk-load's
    bottom level).

    Determinism: total order is (x, id) then (y, id) — ties cannot
    reorder across engines. Scale shape: the global x-rank uses the
    zipWithIndex pattern of ``with_global_pos`` (range partition +
    per-partition numbering — never a single-task global Window); the
    per-strip y-rank window is bounded by cap·S rows; N itself is one
    planning-sized count. At 10^12 rows a production build runs the
    same plan on a sample to draw leaf boundaries (Spark's
    RangePartitioner discipline); the packing arithmetic is identical.
    """
    import math

    from zen3geo_spark.operators.combinators import with_global_pos

    n = points.count()
    if n == 0:
        return points.sparkSession.createDataFrame(
            [], "leaf_id long, n_pts long, minx_us long, maxx_us long, "
                "miny_us long, maxy_us long")
    n_leaves = math.ceil(n / leaf_cap)
    s = math.ceil(math.sqrt(n_leaves))
    rx = with_global_pos(
        points.select(F.col(id_col).alias("pid"),
                      F.col(x_col).alias("px"), F.col(y_col).alias("py")),
        ["px", "pid"], "_rx")
    strip = rx.withColumn(
        "strip", F.expr(f"(_rx - 1) div {s * leaf_cap}"))
    w = Window.partitionBy("strip").orderBy(F.col("py").asc(),
                                            F.col("pid").asc())
    leaves = (strip.withColumn("_ry", F.row_number().over(w))
              .withColumn("leaf_id",
                          F.expr(f"strip * {s} + (_ry - 1) div {leaf_cap}")))
    return (leaves.groupBy("leaf_id")
            .agg(F.count("*").alias("n_pts"),
                 F.min("px").alias("minx_us"), F.max("px").alias("maxx_us"),
                 F.min("py").alias("miny_us"), F.max("py").alias("maxy_us")))


def str_pack_sql_duckdb(points_rel: str, leaf_cap: int, n: int) -> str:
    """DuckDB twin of :func:`str_pack_points` (same slicing arithmetic;
    ``n`` is the planning-time row count, passed in like the Spark
    side's count)."""
    import math

    n_leaves = math.ceil(n / leaf_cap)
    s = math.ceil(math.sqrt(n_leaves))
    return f"""
    select leaf_id, count(*) as n_pts,
           min(px) as minx_us, max(px) as maxx_us,
           min(py) as miny_us, max(py) as maxy_us
    from (
      select strip * {s} + (ry - 1) // {leaf_cap} as leaf_id, px, py
      from (
        select strip, px, py,
               row_number() over (partition by strip
                                  order by py asc, pid asc) as ry
        from (
          select pid, px, py, (rx - 1) // {s * leaf_cap} as strip
          from (
            select pid, px, py,
                   row_number() over (order by px asc, pid asc) as rx
            from (select point_id as pid, lon_us as px, lat_us as py
                  from {points_rel}) t0
          ) t1
        ) t2
      ) t3
    ) t4
    group by leaf_id
    """
