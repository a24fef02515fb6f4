"""Hierarchical cell-set operators: H3-style ``compact`` and grid DBSCAN.

The reference pairs rasters and vectors through cell/tile addressing
(xbatcher slices, datashader canvases); production H3/S2 pipelines
additionally maintain cell SETS — coverage masks, crawl footprints,
serving areas — whose storage at res 10+ explodes unless complete
quads are promoted to their parent (`h3.compact_cells` /
`S2RegionCoverer` semantics). ``compact_cells`` re-expresses that as a
closed-form DataFrame plan (no bottom-up iteration): a cell's
compacted form is the COARSEST ancestor whose full ``4^(res-A)``
subtree is present in the set — completeness along one cell's ancestor
chain is monotone (a complete level-A ancestor implies every finer
ancestor on the chain is complete), so one explode over the bounded
level range + one (level, ancestor) count + a min-level pick per cell
reproduces the iterative sibling-promotion fixpoint exactly.

``grid_dbscan`` is DBSCAN re-expressed on the quad grid (the
grid-density clustering used for POI/footprint mining at web scale):
core cells = cells with >= ``min_pts`` points; clusters = connected
components of the 8-neighbor adjacency graph over core cells (wrap in
longitude, clamp in latitude — the same ring semantics as
``cell_neighbors``). Candidate edges come from an equi-join on the
exploded neighbor ring (bounded fan-out 9), never a distance
cross-join, and the component step reuses the contraction+pointer-
jumping CC of operators/dedup.py — both 100 TB-shaped.

Reference parity: zen3geo has no cell-set algebra (its spatial pairing
is per-chip bbox clipping, datapipes/geopandas.py:121-141); these
operators extend the engine along the BASELINE.json north rule
("H3/S2 cell-encode" index maintenance) rather than mirroring a
reference test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from zen3geo_spark.functions.geo import (
    bbox_cells_sql,
    cell_bounds_sql,
    cell_center_sql,
    cell_encode,
    cell_from_iy_ix,
    cell_from_iy_ix_sql,
    cell_id_sql,
    cell_neighbors,
    cell_parent,
    cell_parent_sql,
    cells_adjacent_sql,
    explode_bbox_cells,
)


def compact_cells(cells: DataFrame, res: int, min_res: int = 0,
                  cell_col: str = "cell",
                  group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Compact a distinct cell set at resolution ``res``: replace every
    complete sibling quad by its parent, recursively down to
    ``min_res``. Output columns ``(*group_cols, cell, cell_res)`` —
    distinct. ``group_cols`` compacts each group's set independently
    (e.g. one cover per polygon) without a per-group loop.

    Plan shape (scale-safe): one explode with fan-out
    ``res - min_res + 1`` (bounded, <= MAX_RES+1), one (level, anc)
    hash aggregate, one equi-join back, one min-level pick, one
    distinct — every shuffle keyed on (group, cell) ids, no iteration,
    no driver-side data.
    """
    if min_res > res:
        raise ValueError(f"min_res {min_res} must be <= res {res}")
    g = list(group_cols)
    c = F.col(cell_col)
    # (cell, level, ancestor) for level = min_res .. res
    anc_structs = [
        F.struct(F.lit(lvl).alias("lvl"),
                 cell_parent(c, res, lvl).alias("anc"))
        for lvl in range(min_res, res + 1)
    ]
    exploded = (cells.select(*g, c.alias("cell"))
                .distinct()
                .select(*g, "cell",
                        F.explode(F.array(*anc_structs)).alias("la"))
                .select(*g, "cell", F.col("la.lvl").alias("lvl"),
                        F.col("la.anc").alias("anc")))
    # an ancestor at level L is complete iff ALL 4^(res-L) of its res-
    # level descendants are in the set; the explode emits exactly one
    # row per (descendant in set, level), so count(*) == 4^(res-L)
    counts = exploded.groupBy(*g, "lvl", "anc").agg(F.count("*").alias("n"))
    # shiftleft with a COLUMN shift amount is SQL-only (the Python API
    # pins numBits to int) — exact bigint 4^(res-lvl)
    complete = counts.filter(
        F.expr(f"n = shiftleft(cast(1 as bigint), ({res} - lvl) * 2)")
    ).select(*g, "lvl", "anc")
    # coarsest complete ancestor per input cell (level res is always
    # complete — n == 1 — so the min exists for every cell)
    hit = exploded.join(complete, g + ["lvl", "anc"])
    best = hit.groupBy(*g, "cell").agg(F.min("lvl").alias("lvl"))
    return (hit.join(best, g + ["cell", "lvl"])
            .select(*g, F.col("anc").alias("cell"),
                    F.col("lvl").alias("cell_res"))
            .distinct())


def compact_cells_sql(cells_sql: str, res: int, min_res: int,
                      engine: str = "duckdb",
                      group_cols: tuple[str, ...] = ()) -> str:
    """Engine-neutral SQL twin of :func:`compact_cells`.

    ``cells_sql`` must yield columns ``(*group_cols, cell)`` (distinct
    not required). The bounded level range unrolls to a UNION ALL (the
    SQL analogue of the explode)."""
    gsel = "".join(f"{c}, " for c in group_cols)
    geq = "".join(f" and a.{c} = c.{c}" for c in group_cols)
    geqb = "".join(f" and h.{c} = b.{c}" for c in group_cols)
    ga = "".join(f"a.{c}, " for c in group_cols)
    gh = "".join(f"h.{c}, " for c in group_cols)
    arms = []
    for lvl in range(min_res, res + 1):
        anc = cell_parent_sql("cell", res, lvl, engine)
        arms.append(
            f"select {gsel}cell, {lvl} as lvl, {anc} as anc from _cells")
    union = " union all ".join(arms)
    return f"""
    with _cells as (select distinct {gsel}cell from ({cells_sql})),
    _anc as ({union}),
    _cnt as (select {gsel}lvl, anc, count(*) as n from _anc
             group by {gsel}lvl, anc),
    _complete as (
      select {gsel}lvl, anc from _cnt
      where n = cast(pow(4, {res} - lvl) as bigint)
    ),
    _hit as (
      select {ga}a.cell, a.lvl, a.anc
      from _anc a join _complete c on a.lvl = c.lvl and a.anc = c.anc{geq}
    ),
    _best as (select {gsel}cell, min(lvl) as lvl from _hit
              group by {gsel}cell),
    _out as (
      select distinct {gh}h.anc as cell, h.lvl as cell_res
      from _hit h join _best b
        on h.cell = b.cell and h.lvl = b.lvl{geqb}
    )
    select * from _out
    """


def uncompact_cells(cells: DataFrame, res: int,
                    cell_col: str = "cell",
                    res_col: str = "cell_res") -> DataFrame:
    """Inverse of :func:`compact_cells`: expand a mixed-resolution cell
    set back to uniform resolution ``res`` (fan-out ``4^(res-L)`` per
    row — the caller bounds ``res - min(L)``). Output: ``(cell)``."""
    c, r = cell_col, res_col
    # children at res of a cell at level L: iy', ix' range over the
    # (iy<<s .. iy<<s + 2^s - 1) block where s = res - L.  Pure bigint
    # (shiftleft with column shift amounts is SQL-only, hence expr).
    one = "cast(1 as bigint)"
    return (cells
            .select(
                F.expr(
                    f"shiftleft(({c} - shiftleft({one}, {r} * 2)) div shiftleft({one}, {r}), {res} - {r})"
                ).alias("y0"),
                F.expr(
                    f"shiftleft(({c} - shiftleft({one}, {r} * 2)) % shiftleft({one}, {r}), {res} - {r})"
                ).alias("x0"),
                F.expr(f"shiftleft({one}, {res} - {r})").alias("side"),
                F.expr(f"shiftleft({one}, ({res} - {r}) * 2)").alias("nc"))
            .select("y0", "x0", "side",
                    F.explode(F.sequence(F.lit(0), F.col("nc") - 1)).alias("k"))
            .select((F.shiftleft(F.lit(1).cast("long"), 2 * res)
                     + (F.col("y0") + F.floor(F.col("k") / F.col("side")).cast("long"))
                     * F.shiftleft(F.lit(1), res)
                     + F.col("x0") + F.pmod(F.col("k"), F.col("side")))
                    .alias("cell")))


def grid_dbscan(points: DataFrame, res: int, min_pts: int,
                lat_col: str = "lat_us", lon_col: str = "lon_us") -> DataFrame:
    """Grid DBSCAN: cluster the res-``res`` cells holding >= ``min_pts``
    points via 8-neighbor connectivity. Output:
    ``(cell, cluster, n_pts)`` — cluster = min cell id in the component
    (a stable, engine-independent label). Non-core cells are noise and
    are not emitted (classic DBSCAN drops them too).

    Plan: one cell-count aggregate, one bounded neighbor explode
    (fan-out 9), one self-equi-join on the ring key, then the
    contraction+pointer-jumping connected components of
    operators/dedup.py — O(log diameter) rounds over the CONTRACTED
    graph, never the raw point set.
    """
    from zen3geo_spark.operators.dedup import connected_components

    core = (points
            .select(cell_encode(F.col(lat_col), F.col(lon_col), res).alias("cell"))
            .groupBy("cell").agg(F.count("*").alias("n_pts"))
            .filter(F.col("n_pts") >= min_pts))
    core = core.localCheckpoint(eager=False)
    ring = core.select(
        F.col("cell").alias("a_id"),
        F.explode(cell_neighbors(F.col("cell"), res)).alias("nb"))
    # candidate edge when the neighbor is ALSO core; a < b kills the
    # self-loop and the duplicate direction
    edges = (ring.join(core.select(F.col("cell").alias("b_id")),
                       ring.nb == F.col("b_id"))
             .filter(F.col("a_id") < F.col("b_id"))
             .select("a_id", "b_id"))
    comp = connected_components(
        edges, nodes=core.select(F.col("cell").alias("node")))
    return (comp.join(core, comp.node == core.cell)
            .select(F.col("cell"), F.col("component").alias("cluster"),
                    F.col("n_pts")))


def cover_polygon_cells(polys: DataFrame, edges: DataFrame, res: int,
                        min_res: int = 0) -> DataFrame:
    """S2-RegionCoverer-style polygon cover: the compacted set of cells
    whose CENTER lies inside each polygon (center-in-polygon is the
    same pixel-ownership rule the rasterizer burns with, so covers and
    burns agree). Output: ``(geom_id, cell, cell_res)``.

    ``polys`` needs ``(geom_id, miny_us, maxy_us, minx_us, maxx_us)``
    (bbox in micro-degrees, x=lon y=lat); ``edges`` needs
    ``(geom_id, x1, y1, x2, y2)`` ring edges. All JVM: candidate cells
    come from two bounded ``sequence`` explodes over the bbox's cell-
    index ranges (never a global grid), the point-in-polygon test is
    the ray-cast parity as a broadcast edges join + one aggregate —
    identical in shape to the PIP oracle — and the compaction is
    :func:`compact_cells` grouped by ``geom_id``. Candidate count per
    polygon is (bbox area / cell area), the caller's res choice bounds
    it; at 10^12 scale the polygon side is dimension-sized and the
    whole cover is a broadcast-scale computation.
    """
    clat, clon = cell_center_sql("iy", "ix", res, "spark")
    cand = (explode_bbox_cells(polys, "miny_us", "maxy_us", "minx_us",
                               "maxx_us", res)
            .select("geom_id", "iy", "ix", F.expr(clat).alias("clat"),
                    F.expr(clon).alias("clon")))
    crossing = ((F.col("e.y1") > F.col("clat"))
                != (F.col("e.y2") > F.col("clat")))
    x_at = ((F.col("e.x2") - F.col("e.x1")).cast("double")
            * (F.col("clat") - F.col("e.y1")).cast("double")
            / (F.col("e.y2") - F.col("e.y1")).cast("double")
            + F.col("e.x1"))
    inside = (cand.alias("c")
              .join(F.broadcast(edges.alias("e")), ["geom_id"])
              .filter(crossing)
              .groupBy("geom_id", "iy", "ix", "clat", "clon")
              .agg(F.sum(F.when(F.col("clon") < x_at, 1).otherwise(0))
                   .alias("hits"))
              .filter(F.col("hits") % 2 == 1))
    cells = inside.select(
        "geom_id", cell_from_iy_ix(F.col("iy"), F.col("ix"), res).alias("cell"))
    return compact_cells(cells, res, min_res, group_cols=("geom_id",))


def cover_polygon_cells_sql(edges_values: str, res: int, min_res: int) -> str:
    """DuckDB twin of :func:`cover_polygon_cells` — bbox derived from
    the edge list, correlated generate_series for the candidate grid,
    ray-cast parity, grouped compact. ``edges_values`` is a VALUES
    relation aliased ``e(geom_id, x1, y1, x2, y2)``."""
    clat, clon = cell_center_sql("iy", "ix", res, "duckdb")
    bbox = f"""(select geom_id, min(least(y1, y2)) as ylo,
                      max(greatest(y1, y2)) as yhi, min(least(x1, x2)) as xlo,
                      max(greatest(x1, x2)) as xhi
               from {edges_values} group by geom_id)"""
    cells_sql = f"""
      select c.geom_id, {cell_from_iy_ix_sql("c.iy", "c.ix", res)} as cell
      from (
        select geom_id, iy, ix, {clat} as clat, {clon} as clon
        from ({bbox_cells_sql(bbox, "ylo", "yhi", "xlo", "xhi", res)})
      ) c
      join {edges_values} on e.geom_id = c.geom_id
      where (e.y1 > c.clat) != (e.y2 > c.clat)
      group by c.geom_id, c.iy, c.ix, c.clat, c.clon
      having sum(case when c.clon < cast(e.x2 - e.x1 as double)
                                    * cast(c.clat - e.y1 as double)
                                    / cast(e.y2 - e.y1 as double) + e.x1
                      then 1 else 0 end) % 2 = 1
    """
    return compact_cells_sql(cells_sql, res, min_res,
                             group_cols=("geom_id",))


def cover_segment_cells(segments: DataFrame, res: int) -> DataFrame:
    """Supercover of a line segment on the cell grid: every cell whose
    CLOSED rectangle the CLOSED segment touches (the line-geometry
    sibling of point ``cell_encode`` and :func:`cover_polygon_cells` —
    trajectory/road coverage). Input: ``(seg_id, x1, y1, x2, y2)`` in
    micro-degrees (x=lon, y=lat); output ``(seg_id, cell)``.

    Closed form, all JVM integers: candidates = cells in the segment's
    bbox (two bounded ``sequence`` explodes); a candidate survives iff
    the segment's LINE passes through the cell rectangle — the four
    corner cross-products are not all strictly one-signed. Cross
    products stay < 2^60 in micro-degrees, so the test is exact bigint
    (no epsilon, no FP) and the DuckDB twin is the identical predicate.
    The bbox-candidate fan-out is (segment extent / cell size)^2 at
    ``res`` — the caller bounds it by resolution exactly as in the
    polygon cover; no per-step iteration, so one segment spanning the
    globe still costs one bounded explode, not a DDA walk.
    """
    cand = explode_bbox_cells(segments.select("seg_id", "x1", "y1", "x2", "y2"),
                              F.least("y1", "y2"), F.greatest("y1", "y2"),
                              F.least("x1", "x2"), F.greatest("x1", "x2"), res)
    # bbox overlap is by construction (candidates come from the
    # segment's bbox), so the line test completes the rect-segment
    # intersection for axis-aligned rects
    return (cand.filter(F.expr(_segment_touches_sql(res, "spark")))
            .select("seg_id",
                    cell_from_iy_ix(F.col("iy"), F.col("ix"), res).alias("cell")))


def _segment_touches_sql(res: int, engine: str) -> str:
    """The segment's LINE passes through the closed rectangle of cell
    (iy, ix): the cross products of (segment direction) x (corner -
    start) at the four corners are not all strictly one-signed, over
    columns (x1, y1, x2, y2, iy, ix) — exact integer SQL."""
    lat_lo, lat_hi, lon_lo, lon_hi = cell_bounds_sql("iy", "ix", res, engine)
    corners = [f"((x2 - x1) * ({cy} - y1) - (y2 - y1) * ({cx} - x1))"
               for cy in (lat_lo, lat_hi) for cx in (lon_lo, lon_hi)]
    gt = " and ".join(f"{c} > 0" for c in corners)
    lt = " and ".join(f"{c} < 0" for c in corners)
    return f"not ({gt}) and not ({lt})"


def cover_segment_cells_sql(segments_sql: str, res: int) -> str:
    """DuckDB twin of :func:`cover_segment_cells` (identical integer
    predicate). ``segments_sql`` must yield
    ``(seg_id, x1, y1, x2, y2)``."""
    seg = ("(select seg_id, x1, y1, x2, y2, least(y1, y2) as ylo,"
           " greatest(y1, y2) as yhi, least(x1, x2) as xlo,"
           f" greatest(x1, x2) as xhi from ({segments_sql}))")
    return f"""
    select seg_id, {cell_from_iy_ix_sql("iy", "ix", res)} as cell
    from ({bbox_cells_sql(seg, "ylo", "yhi", "xlo", "xhi", res)})
    where {_segment_touches_sql(res, "duckdb")}
    """


def cover_disk_cells(points: DataFrame, radius_us: int, res: int,
                     id_col: str = "point_id",
                     lat_col: str = "lat_us",
                     lon_col: str = "lon_us") -> DataFrame:
    """Disk cover: every cell whose closed rectangle intersects the
    closed disk of ``radius_us`` micro-degrees around each point (the
    planar serving-area / geofence cover; for metric-exact radii pair
    with the haversine refine of radius_join). Output:
    ``(point_id, cell)``.

    Closed form, exact bigint: candidates from the disk's bbox (two
    bounded explodes, fan-out (2r/cell)^2); predicate = squared
    distance from the point to the rectangle's NEAREST point (clamp to
    the rect) <= r^2 — products stay < 2^58 in micro-degrees, no FP.
    """
    r = int(radius_us)
    base = points.select(
        F.col(id_col).alias("point_id"),
        F.col(lat_col).alias("py"), F.col(lon_col).alias("px"))
    cand = explode_bbox_cells(base, F.col("py") - r, F.col("py") + r,
                              F.col("px") - r, F.col("px") + r, res)
    return (cand.filter(F.expr(_disk_rect_pred_sql(r, res, "spark")))
            .select("point_id",
                    cell_from_iy_ix(F.col("iy"), F.col("ix"), res).alias("cell")))


def _disk_rect_pred_sql(r: int, res: int, engine: str) -> str:
    """squared-distance(point, rect) <= r^2 over columns
    (py, px, iy, ix) — engine-neutral integer SQL."""
    lat_lo, lat_hi, lon_lo, lon_hi = cell_bounds_sql("iy", "ix", res, engine)
    dy = f"greatest(greatest({lat_lo} - py, py - {lat_hi}), 0)"
    dx = f"greatest(greatest({lon_lo} - px, px - {lon_hi}), 0)"
    return f"(({dy}) * ({dy}) + ({dx}) * ({dx})) <= {r * r}"


def cover_disk_cells_sql(points_sql: str, radius_us: int, res: int) -> str:
    """DuckDB twin of :func:`cover_disk_cells`. ``points_sql`` must
    yield ``(point_id, lat_us, lon_us)``."""
    r = int(radius_us)
    pts = (f"(select point_id, lat_us as py, lon_us as px, lat_us - {r} as ylo,"
           f" lat_us + {r} as yhi, lon_us - {r} as xlo, lon_us + {r} as xhi"
           f" from ({points_sql}))")
    return f"""
    select point_id, {cell_from_iy_ix_sql("iy", "ix", res)} as cell
    from ({bbox_cells_sql(pts, "ylo", "yhi", "xlo", "xhi", res)})
    where {_disk_rect_pred_sql(r, res, "duckdb")}
    """


def moran_i(points: DataFrame, res: int,
            lat_col: str = "lat_us", lon_col: str = "lon_us") -> DataFrame:
    """Global Moran's I — THE spatial-autocorrelation statistic — of
    page density over the FULL res-``res`` lattice (empty cells count
    as 0), with binary 8-neighbor weights (lon wraps, lat clamps — the
    ``cell_neighbors`` ring, deduped, self excluded).

    Exact integers end to end: with N = #cells, T = Σx, the residual
    scales to X_i = N·x_i − T, and
    ``I = (N/W)·ΣX_iX_j / ΣX_i²`` (the N² factors cancel), reported as
    ``moran_x1e4 = (N · ΣX_iX_j · 10^4) div (W · ΣX_i²)`` — floor
    division, bit-identical across engines, no FP summation order to
    disagree on. Output: one row
    (res, n_cells, w_pairs, num, den, moran_x1e4).

    Scale shape: one cell-count aggregate, a full-lattice left join
    (4^res rows — the caller's res bounds it; at fine res restrict to
    the occupied bbox), one bounded ring explode + equi-join, three
    scalar aggregates. No cross join, no window.
    """
    counts = (points
              .select(cell_encode(F.col(lat_col), F.col(lon_col), res)
                      .alias("cell"))
              .groupBy("cell").agg(F.count("*").alias("x")))
    spark = points.sparkSession
    lattice = spark.range(1 << (2 * res)).select(
        (F.col("id") + F.lit(1 << (2 * res))).alias("cell"))
    cells = (lattice.join(counts, "cell", "left")
             .select("cell", F.coalesce("x", F.lit(0)).alias("x"))
             .localCheckpoint(eager=False))
    tot = cells.agg(F.sum("x").alias("t"),
                    F.count("*").alias("n")).collect()[0]
    t, n_cells = int(tot.t), int(tot.n)
    resid = cells.select(
        "cell", (F.lit(n_cells) * F.col("x") - F.lit(t)).alias("xr"))
    resid = resid.localCheckpoint(eager=False)
    ring = resid.select(
        F.col("cell").alias("a"), F.col("xr").alias("xa"),
        F.explode(cell_neighbors(F.col("cell"), res)).alias("b")
    ).filter(F.col("a") != F.col("b"))
    pairs = ring.join(
        resid.select(F.col("cell").alias("b"), F.col("xr").alias("xb")), "b")
    agg = pairs.agg(F.count("*").alias("w"),
                    F.sum(F.col("xa") * F.col("xb")).alias("num")).collect()[0]
    den = int(resid.agg(F.sum(F.col("xr") * F.col("xr"))).collect()[0][0])
    w, num = int(agg.w), int(agg.num)
    if den and w:
        q, d = n_cells * num * 10_000, w * den
        # TRUNCATING division (SQL integer-division semantics in both
        # engines) — Python's // floors, which differs on negative I
        moran_x1e4 = (-1 if (q < 0) != (d < 0) else 1) * (abs(q) // abs(d))
    else:
        moran_x1e4 = None
    return spark.createDataFrame(
        [(res, n_cells, w, num, den, moran_x1e4)],
        "res int, n_cells long, w_pairs long, num long, den long, "
        "moran_x1e4 long")


def local_moran(points: DataFrame, res: int,
                lat_col: str = "lat_us", lon_col: str = "lon_us") -> DataFrame:
    """LISA — Anselin's LOCAL Moran's I per cell, the hot/cold-spot
    cluster map: ``I_i ∝ X_i · Σ_j w_ij X_j`` with the same scaled
    integer residuals as :func:`moran_i` (X_i = N·x_i − T), queen
    weights, lon wrap / lat clamp. Output per OCCUPIED cell:
    ``(cell, x, lisa_num = X_i·ΣX_j, quad)`` where quad is the LISA
    quadrant — HH/LL (cluster core), HL/LH (spatial outlier), EE when
    either factor is exactly the mean. All integers; no z-scores, so
    the statistic itself is cross-engine hashable (inference thresholds
    are a presentation concern).
    """
    counts = (points
              .select(cell_encode(F.col(lat_col), F.col(lon_col), res)
                      .alias("cell"))
              .groupBy("cell").agg(F.count("*").alias("x")))
    spark = points.sparkSession
    lattice = spark.range(1 << (2 * res)).select(
        (F.col("id") + F.lit(1 << (2 * res))).alias("cell"))
    cells = (lattice.join(counts, "cell", "left")
             .select("cell", F.coalesce("x", F.lit(0)).alias("x"))
             .localCheckpoint(eager=False))
    tot = cells.agg(F.sum("x").alias("t"),
                    F.count("*").alias("n")).collect()[0]
    t, n_cells = int(tot.t), int(tot.n)
    resid = cells.select(
        "cell", "x",
        (F.lit(n_cells) * F.col("x") - F.lit(t)).alias("xr"))
    resid = resid.localCheckpoint(eager=False)
    ring = (resid.select(F.col("cell").alias("a"),
                         F.explode(cell_neighbors(F.col("cell"), res))
                         .alias("b"))
            .filter(F.col("a") != F.col("b")))
    nb = (ring.join(resid.select(F.col("cell").alias("b"),
                                 F.col("xr").alias("xb")), "b")
          .groupBy("a").agg(F.sum("xb").alias("sxb")))
    out = (resid.join(nb, resid.cell == nb.a)
           .filter(F.col("x") > 0)
           .select("cell", "x",
                   (F.col("xr") * F.col("sxb")).alias("lisa_num"),
                   F.when((F.col("xr") > 0) & (F.col("sxb") > 0), "HH")
                   .when((F.col("xr") < 0) & (F.col("sxb") < 0), "LL")
                   .when((F.col("xr") > 0) & (F.col("sxb") < 0), "HL")
                   .when((F.col("xr") < 0) & (F.col("sxb") > 0), "LH")
                   .otherwise("EE").alias("quad")))
    return out


def local_moran_sql_duckdb(points_sql: str, res: int) -> str:
    """DuckDB twin of :func:`local_moran`."""
    base = 1 << (2 * res)
    cell = cell_id_sql("lat_us", "lon_us", res, "duckdb")
    return f"""
    with _cnt as (
      select {cell} as cell, count(*) as x from ({points_sql}) group by 1
    ),
    _cells as (
      select {base} + t.id as cell, coalesce(c.x, 0) as x
      from range({base}) t(id) left join _cnt c on c.cell = {base} + t.id
    ),
    _tot as (select sum(x) as t, count(*) as nc from _cells),
    _r as (select cell, x,
                  (select nc from _tot) * x - (select t from _tot) as xr
           from _cells),
    _nb as (
      select a.cell as cell, sum(b.xr) as sxb
      from _r a join _r b on a.cell <> b.cell
      where {cells_adjacent_sql("a.cell", "b.cell", res, "duckdb")}
      group by a.cell
    )
    select r.cell, r.x, r.xr * n.sxb as lisa_num,
           case when r.xr > 0 and n.sxb > 0 then 'HH'
                when r.xr < 0 and n.sxb < 0 then 'LL'
                when r.xr > 0 and n.sxb < 0 then 'HL'
                when r.xr < 0 and n.sxb > 0 then 'LH'
                else 'EE' end as quad
    from _r r join _nb n on r.cell = n.cell
    where r.x > 0
    """


def moran_i_sql_duckdb(points_sql: str, res: int) -> str:
    """DuckDB twin of :func:`moran_i` (same lattice, same clamp/wrap
    adjacency, same scaled-integer floor arithmetic).
    ``points_sql`` must yield (lat_us, lon_us)."""
    base = 1 << (2 * res)
    cell = cell_id_sql("lat_us", "lon_us", res, "duckdb")
    return f"""
    with _cnt as (
      select {cell} as cell, count(*) as x from ({points_sql}) group by 1
    ),
    _cells as (
      select {base} + t.id as cell, coalesce(c.x, 0) as x
      from range({base}) t(id) left join _cnt c on c.cell = {base} + t.id
    ),
    _tot as (select sum(x) as t, count(*) as nc from _cells),
    _r as (select cell, (select nc from _tot) * x - (select t from _tot)
                  as xr from _cells),
    _adj as (
      select a.xr as xa, b.xr as xb
      from _r a join _r b on a.cell <> b.cell
      where {cells_adjacent_sql("a.cell", "b.cell", res, "duckdb")}
    ),
    _s as (select count(*) as w, sum(xa * xb) as num from _adj),
    _d as (select sum(xr * xr) as den from _r)
    select {res} as res, (select nc from _tot) as n_cells,
           s.w as w_pairs, s.num as num, d.den as den,
           ((select nc from _tot) * s.num * 10000) // (s.w * d.den)
             as moran_x1e4
    from _s s, _d d
    """


def grid_dbscan_edges_sql(core_sql: str, res: int) -> str:
    """DuckDB SQL emitting SYMMETRIC (u, v) adjacency pairs over the
    core-cell relation ``core_sql`` (must yield column ``cell``), with
    the same ring semantics as :func:`cell_neighbors`: latitude rows
    clamp (boundary rows have no wrap partner), longitude wraps mod
    ``2^res``. Feed to ``components_sql_duckdb``."""
    return f"""
    select a.cell as u, b.cell as v
    from ({core_sql}) a join ({core_sql}) b on a.cell <> b.cell
    where {cells_adjacent_sql("a.cell", "b.cell", res, "duckdb")}
    """
