"""Raster map algebra over sparse pixel tables: focal (neighborhood)
statistics and inverse-distance-weighted (IDW) grid interpolation.

The reference's raster side stops at rasterize/mosaic/chip (zen3geo
datapipes/datashader.py, stackstac.py); production raster pipelines
additionally run MAP ALGEBRA over the burned grids — focal means for
smoothing/hot-spot dilation (GDAL focal stats, xarray ``rolling``), and
scattered-point → grid interpolation (IDW) for coverage surfaces. Both
re-express as bounded-fan-out DataFrame plans over the SPARSE pixel
representation (only non-empty pixels are rows — the only representation
that exists at a 10^12-page world canvas):

* ``focal_stats``: each pixel contributes to its (2r+1)^2 neighborhood →
  one explode (fan-out ≤ 9 for r=1) + one (row, col) group-by. No dense
  materialization, no window over a global sort; shuffle key is the
  pixel coordinate, so the plan partitions spatially and scales linearly
  in the number of NON-EMPTY pixels. Output includes empty pixels that
  gain a value from a neighbor (the dilation of the support) — map
  algebra with implicit-zero semantics, with ``n_present`` (non-empty
  contributors) vs ``n_window`` (in-bounds window size) distinguishing
  "sparse mean" from "dense mean" downstream.

* ``idw_accumulate``: truncated-support IDW at grid-CELL centers from
  scattered micro-degree points. Candidates come from the 3x3 cell ring
  (the same bounded ring as kNN/grid-DBSCAN — an equi-join on an
  exploded ring key, never a distance cross-join). Weights are INTEGER:
  ``w = scale div (d2 + 1)`` with ``d2`` the squared planar
  micro-degree distance — so the accumulated ``(wsum, wvsum)`` pair is
  exact bigint arithmetic, bit-identical across engines (the caller
  divides for the estimate; no FP summation-order hazard in the gate).

Both carry engine-neutral SQL twins so the DuckDB oracle shares the
exact arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from zen3geo_spark.functions.geo import (
    cell_center_sql,
    cell_encode,
    cell_id_sql,
    cell_iy_ix_sql,
    cell_neighbors,
    cells_adjacent_sql,
)


# ---------------------------------------------------------------------------
# focal statistics
# ---------------------------------------------------------------------------

def focal_stats(pixels: DataFrame, width: int, height: int,
                radius: int = 1) -> DataFrame:
    """Neighborhood sum/max over a sparse integer raster.

    ``pixels``: (row int, col int, value bigint) — non-empty pixels only.
    Returns (row, col, focal_sum, focal_max, n_present, n_window) for
    every in-bounds pixel whose (2r+1)^2 window contains at least one
    non-empty pixel. Edges clamp: ``n_window`` is the count of in-bounds
    window positions (9 interior, 6 edge, 4 corner for r=1).
    """
    if radius < 1:
        raise ValueError(f"radius must be >= 1, got {radius}")
    offs = F.expr(
        f"flatten(transform(sequence({-radius}, {radius}), "
        f"dr -> transform(sequence({-radius}, {radius}), "
        f"dc -> struct(dr as dr, dc as dc))))")
    nb = (pixels
          .select("row", "col", "value", F.explode(offs).alias("o"))
          .select((F.col("row") + F.col("o.dr")).alias("row"),
                  (F.col("col") + F.col("o.dc")).alias("col"),
                  "value")
          .filter((F.col("row") >= 0) & (F.col("row") < height)
                  & (F.col("col") >= 0) & (F.col("col") < width)))
    r = F.lit(radius)
    n_rows = (F.least(F.col("row") + r, F.lit(height - 1))
              - F.greatest(F.col("row") - r, F.lit(0)) + 1)
    n_cols = (F.least(F.col("col") + r, F.lit(width - 1))
              - F.greatest(F.col("col") - r, F.lit(0)) + 1)
    return (nb.groupBy("row", "col")
            .agg(F.sum("value").alias("focal_sum"),
                 F.max("value").alias("focal_max"),
                 F.count("*").alias("n_present"))
            .withColumn("n_window", (n_rows * n_cols).cast("long")))


def focal_stats_sql(pixels_sql: str, width: int, height: int,
                    radius: int = 1) -> str:
    """Engine-neutral SQL twin of :func:`focal_stats`. ``pixels_sql``
    must be a complete SELECT yielding (row, col, value)."""
    ds = ",".join(f"({d})" for d in range(-radius, radius + 1))
    return f"""
    with _px as ({pixels_sql}),
    _nb as (
      select _px.row + o1.d as row, _px.col + o2.d as col, _px.value as value
      from _px, (values {ds}) o1(d), (values {ds}) o2(d)
    )
    select row, col,
           sum(value) as focal_sum,
           max(value) as focal_max,
           count(*) as n_present,
           cast((least(row + {radius}, {height - 1})
                 - greatest(row - {radius}, 0) + 1)
                * (least(col + {radius}, {width - 1})
                   - greatest(col - {radius}, 0) + 1) as bigint) as n_window
    from _nb
    where row >= 0 and row < {height} and col >= 0 and col < {width}
    group by row, col
    """


def slope_aspect(pixels: DataFrame, width: int, height: int) -> DataFrame:
    """Central-difference gradient + aspect octant over a sparse integer
    raster (the slope/aspect pass of DEM map algebra, implicit-zero
    semantics).

    ``gx = z(r, c+1) - z(r, c-1)``, ``gy = z(r+1, c) - z(r-1, c)``
    (image rows grow downward, so gy is the southward difference).
    Re-expressed sparsely: each pixel SCATTERS +v/-v to the four
    targets whose gradient it enters (fan-out 4) and the group-by sums
    — the same bounded-explode discipline as :func:`focal_stats`, no
    dense materialization and no 4-way self-join. ``aspect_octant``
    classifies the gradient direction 0..7 (E, NE, N, NW, W, SW, S,
    SE) by integer sign and |gx| vs |gy| comparisons — no atan2, so
    the value is hash-exact; flat cells (gx = gy = 0) get -1.
    """
    zero = F.lit(0).cast("long")
    v = F.col("value").cast("long")
    contribs = F.array(
        F.struct(F.col("row").alias("tr"), (F.col("col") - 1).alias("tc"),
                 v.alias("cx"), zero.alias("cy")),
        F.struct(F.col("row").alias("tr"), (F.col("col") + 1).alias("tc"),
                 (-v).alias("cx"), zero.alias("cy")),
        F.struct((F.col("row") - 1).alias("tr"), F.col("col").alias("tc"),
                 zero.alias("cx"), v.alias("cy")),
        F.struct((F.col("row") + 1).alias("tr"), F.col("col").alias("tc"),
                 zero.alias("cx"), (-v).alias("cy")),
    )
    sc = (pixels.select(F.explode(contribs).alias("s"))
          .select(F.col("s.tr").alias("row"), F.col("s.tc").alias("col"),
                  F.col("s.cx").alias("cx"), F.col("s.cy").alias("cy"))
          .filter((F.col("row") >= 0) & (F.col("row") < height)
                  & (F.col("col") >= 0) & (F.col("col") < width)))
    g = (sc.groupBy("row", "col")
         .agg(F.sum("cx").alias("gx"), F.sum("cy").alias("gy")))
    ax, ay = F.abs(F.col("gx")), F.abs(F.col("gy"))
    octant = (
        F.when((F.col("gx") == 0) & (F.col("gy") == 0), F.lit(-1))
        .when((F.col("gx") > 0) & (ax >= 2 * ay), F.lit(0))    # E
        .when((F.col("gx") < 0) & (ax >= 2 * ay), F.lit(4))    # W
        .when((F.col("gy") < 0) & (ay >= 2 * ax), F.lit(2))    # N
        .when((F.col("gy") > 0) & (ay >= 2 * ax), F.lit(6))    # S
        .when((F.col("gx") > 0) & (F.col("gy") < 0), F.lit(1))  # NE
        .when((F.col("gx") < 0) & (F.col("gy") < 0), F.lit(3))  # NW
        .when((F.col("gx") < 0) & (F.col("gy") > 0), F.lit(5))  # SW
        .otherwise(F.lit(7)))                                    # SE
    return g.select("row", "col", "gx", "gy",
                    octant.cast("int").alias("aspect_octant"))


def slope_aspect_sql(pixels_sql: str, width: int, height: int) -> str:
    """Engine-neutral SQL twin of :func:`slope_aspect`."""
    return f"""
    with _px as ({pixels_sql}),
    _sc as (
      select _px.row + o.dr as row, _px.col + o.dc as col,
             _px.value * o.wx as cx, _px.value * o.wy as cy
      from _px, (values (0, -1, 1, 0), (0, 1, -1, 0),
                        (-1, 0, 0, 1), (1, 0, 0, -1)) o(dr, dc, wx, wy)
    ),
    _g as (
      select row, col, sum(cx) as gx, sum(cy) as gy
      from _sc
      where row >= 0 and row < {height} and col >= 0 and col < {width}
      group by row, col
    )
    select row, col, gx, gy,
           cast(case
             when gx = 0 and gy = 0 then -1
             when gx > 0 and abs(gx) >= 2 * abs(gy) then 0
             when gx < 0 and abs(gx) >= 2 * abs(gy) then 4
             when gy < 0 and abs(gy) >= 2 * abs(gx) then 2
             when gy > 0 and abs(gy) >= 2 * abs(gx) then 6
             when gx > 0 and gy < 0 then 1
             when gx < 0 and gy < 0 then 3
             when gx < 0 and gy > 0 then 5
             else 7
           end as int) as aspect_octant
    from _g
    """


def contour_crossings(pixels: DataFrame, width: int, height: int,
                      threshold: int) -> DataFrame:
    """Contour (isoline) crossing extraction over a sparse integer
    raster — the marching-squares EDGE TEST (GDAL ``gdal_contour``'s
    first stage) with implicit-zero semantics.

    For every 4-adjacent pixel pair (east and south neighbors) whose
    values STRADDLE the threshold (one < t, the other >= t), emit one
    crossing: (row, col, dir, lo_value, hi_value) anchored at the pair's
    first pixel, ``dir`` 'E' or 'S'. Missing pixels count as 0, so a
    lone pixel >= t emits crossings against its empty neighbors —
    exactly the contour a dense raster would draw around it.

    Sparse plan: scatter each pixel to its own and its west/north
    anchor slots (fan-out 3) and group — one shuffle on the anchor key,
    never a dense canvas or a 2-way self-join per direction.
    """
    zero = F.lit(0).cast("long")
    v = F.col("value").cast("long")
    # slots: ('h', here) / ('e', east value seen from the west anchor)
    # / ('s', south value seen from the north anchor)
    slots = F.array(
        F.struct(F.col("row").alias("ar"), F.col("col").alias("ac"),
                 v.alias("h"), zero.alias("e"), zero.alias("s"),
                 F.lit(1).alias("mh"), F.lit(0).alias("me"),
                 F.lit(0).alias("ms")),
        F.struct(F.col("row").alias("ar"), (F.col("col") - 1).alias("ac"),
                 zero.alias("h"), v.alias("e"), zero.alias("s"),
                 F.lit(0).alias("mh"), F.lit(1).alias("me"),
                 F.lit(0).alias("ms")),
        F.struct((F.col("row") - 1).alias("ar"), F.col("col").alias("ac"),
                 zero.alias("h"), zero.alias("e"), v.alias("s"),
                 F.lit(0).alias("mh"), F.lit(0).alias("me"),
                 F.lit(1).alias("ms")),
    )
    g = (pixels.select(F.explode(slots).alias("x"))
         .select("x.*")
         .filter((F.col("ar") >= 0) & (F.col("ac") >= 0))
         .groupBy("ar", "ac")
         .agg(F.sum("h").alias("h"), F.sum("e").alias("e"),
              F.sum("s").alias("s")))
    t = F.lit(threshold)
    here, east, south = F.col("h"), F.col("e"), F.col("s")
    out_e = g.filter(
        (F.col("ac") + 1 < width)
        & (((here < t) & (east >= t)) | ((here >= t) & (east < t)))
    ).select(F.col("ar").alias("row"), F.col("ac").alias("col"),
             F.lit("E").alias("dir"),
             F.least(here, east).alias("lo_value"),
             F.greatest(here, east).alias("hi_value"))
    out_s = g.filter(
        (F.col("ar") + 1 < height)
        & (((here < t) & (south >= t)) | ((here >= t) & (south < t)))
    ).select(F.col("ar").alias("row"), F.col("ac").alias("col"),
             F.lit("S").alias("dir"),
             F.least(here, south).alias("lo_value"),
             F.greatest(here, south).alias("hi_value"))
    return out_e.unionAll(out_s)


def contour_crossings_sql(pixels_sql: str, width: int, height: int,
                          threshold: int) -> str:
    """Engine-neutral SQL twin of :func:`contour_crossings`."""
    return f"""
    with _px as ({pixels_sql}),
    _sc as (
      select _px.row + o.dr as ar, _px.col + o.dc as ac,
             _px.value * o.wh as h, _px.value * o.we as e,
             _px.value * o.ws as s
      from _px, (values (0, 0, 1, 0, 0), (0, -1, 0, 1, 0),
                        (-1, 0, 0, 0, 1)) o(dr, dc, wh, we, ws)
    ),
    _g as (
      select ar, ac, sum(h) as h, sum(e) as e, sum(s) as s
      from _sc where ar >= 0 and ac >= 0
      group by ar, ac
    )
    select ar as row, ac as col, 'E' as dir,
           least(h, e) as lo_value, greatest(h, e) as hi_value
    from _g
    where ac + 1 < {width}
      and ((h < {threshold} and e >= {threshold})
           or (h >= {threshold} and e < {threshold}))
    union all
    select ar as row, ac as col, 'S' as dir,
           least(h, s) as lo_value, greatest(h, s) as hi_value
    from _g
    where ar + 1 < {height}
      and ((h < {threshold} and s >= {threshold})
           or (h >= {threshold} and s < {threshold}))
    """


# ---------------------------------------------------------------------------
# IDW grid interpolation (integer-exact accumulation)
# ---------------------------------------------------------------------------

def idw_accumulate(points: DataFrame, res: int, value_col: str,
                   scale: int = 10 ** 15) -> DataFrame:
    """Truncated-support IDW accumulation at grid-cell centers.

    ``points``: (lat_us bigint, lon_us bigint, <value_col> bigint).
    Targets are every cell in the DILATED support (occupied cells plus
    their 3x3 ring); candidates for a target are the points in the
    target's ring. Returns (cell, lat_c_us, lon_c_us, n_pts, wsum,
    wvsum) with ``w = scale div (d2 + 1)`` — all bigint-exact; the IDW
    estimate is ``wvsum / wsum`` (caller-side division).

    Keep ``scale * max(value)`` times the per-ring candidate count well
    under 2^63: with scale=1e15 and values <= 9 the plan is safe for
    ~900 candidates per ring; larger fan-ins need a smaller scale.
    """
    pts = points.withColumn(
        "_pcell", cell_encode(F.col("lat_us"), F.col("lon_us"), res))
    # each point registers under every ring cell => equi-join key is the
    # TARGET cell id; per-target fan-in is bounded by ring occupancy
    cand = pts.select(
        F.explode(cell_neighbors(F.col("_pcell"), res)).alias("cell"),
        "lat_us", "lon_us", F.col(value_col).alias("_v"))
    lat_c, lon_c = cell_center_sql(*cell_iy_ix_sql("cell", res, "spark"), res,
                                   "spark")
    cand = (cand.withColumn("lat_c_us", F.expr(lat_c))
            .withColumn("lon_c_us", F.expr(lon_c)))
    d2 = ((F.col("lat_us") - F.col("lat_c_us"))
          * (F.col("lat_us") - F.col("lat_c_us"))
          + (F.col("lon_us") - F.col("lon_c_us"))
          * (F.col("lon_us") - F.col("lon_c_us")))
    w = F.expr(f"{scale} div (_d2 + 1)")
    return (cand.withColumn("_d2", d2.cast("long"))
            .withColumn("_w", w)
            .groupBy("cell", "lat_c_us", "lon_c_us")
            .agg(F.count("*").alias("n_pts"),
                 F.sum("_w").alias("wsum"),
                 F.sum(F.col("_w") * F.col("_v")).alias("wvsum")))


def idw_accumulate_sql(points_sql: str, res: int, value_col: str,
                       scale: int = 10 ** 15) -> str:
    """DuckDB twin of :func:`idw_accumulate`. ``points_sql`` must yield
    (lat_us, lon_us, <value_col>). The ring join is expressed as the
    same clamp-lat / wrap-lon adjacency predicate the Spark side's
    exploded ``cell_neighbors`` produces."""
    n = 1 << res
    base = 1 << (2 * res)
    lat_c, lon_c = cell_center_sql(*cell_iy_ix_sql("cell", res, "duckdb"), res,
                                   "duckdb")
    return f"""
    with _p as ({points_sql}),
    _pc as (select *, {cell_id_sql('lat_us', 'lon_us', res, 'duckdb')} as pcell
            from _p),
    _grid as (select {base} + g.range as cell from range({n * n}) g),
    _cand as (
      select t.cell, p.lat_us, p.lon_us, p.{value_col} as _v
      from _grid t join _pc p
        on {cells_adjacent_sql("t.cell", "p.pcell", res, "duckdb")}
    ),
    _ctr as (
      select *, {lat_c} as lat_c_us, {lon_c} as lon_c_us
      from _cand
    ),
    _w as (
      select cell, lat_c_us, lon_c_us, _v,
             {scale} // ((lat_us - lat_c_us) * (lat_us - lat_c_us)
                         + (lon_us - lon_c_us) * (lon_us - lon_c_us) + 1) as w
      from _ctr
    )
    select cell, lat_c_us, lon_c_us,
           count(*) as n_pts, sum(w) as wsum, sum(w * _v) as wvsum
    from _w
    group by cell, lat_c_us, lon_c_us
    """


# D8 neighbor offsets, aspect-octant direction convention (0=E, CCW;
# image rows grow downward so N is row-1): dir -> (drow, dcol).
_D8 = [(0, 0, 1), (1, -1, 1), (2, -1, 0), (3, -1, -1),
       (4, 0, -1), (5, 1, -1), (6, 1, 0), (7, 1, 1)]


def flow_dir_d8(pixels: DataFrame, width: int, height: int) -> DataFrame:
    """D8 steepest-descent flow direction over a sparse integer raster
    (implicit-zero off-pixels, the hydrology-routing pass of DEM map
    algebra) → (row, col, flow_dir) for every present pixel; dirs 0..7
    = E, NE, N, NW, W, SW, S, SE, pits/flats (no lower in-grid
    neighbor) = -1. Ties on drop break toward the LOWEST direction
    index — encoded integer argmax ``drop·16 + (15 − dir)``, so both
    engines agree bit-for-bit with no argmin ordering semantics in
    play.

    Scale shape: bounded fan-out 8 + one left equi-join back onto the
    pixel table + a map-side-combinable max — the same sparse
    discipline as :func:`focal_stats`, no dense canvas, no 8-way
    self-join."""
    arr = F.array(*[
        F.struct(F.lit(d).cast("int").alias("dir"),
                 (F.col("row") + dr).alias("nr"),
                 (F.col("col") + dc).alias("nc"))
        for d, dr, dc in _D8])
    nb = (pixels
          .select("row", "col", F.col("value").cast("long").alias("z"),
                  F.explode(arr).alias("s"))
          .select("row", "col", "z", "s.dir", "s.nr", "s.nc")
          .filter((F.col("nr") >= 0) & (F.col("nr") < height)
                  & (F.col("nc") >= 0) & (F.col("nc") < width)))
    zn = pixels.select(F.col("row").alias("nr"), F.col("col").alias("nc"),
                       F.col("value").cast("long").alias("zn"))
    j = (nb.join(zn, ["nr", "nc"], "left")
         .withColumn("zn", F.coalesce("zn", F.lit(0).cast("long"))))
    best = (j.withColumn(
                "enc",
                F.when(F.col("z") > F.col("zn"),
                       (F.col("z") - F.col("zn")) * 16
                       + (F.lit(15) - F.col("dir"))))
            .groupBy("row", "col").agg(F.max("enc").alias("bestenc")))
    return best.select(
        "row", "col",
        F.when(F.col("bestenc").isNull(), F.lit(-1))
        .otherwise(F.lit(15) - F.pmod(F.col("bestenc"), F.lit(16)))
        .cast("int").alias("flow_dir"))


def flow_dir_d8_sql(pixels_sql: str, width: int, height: int) -> str:
    """Engine-neutral SQL twin of :func:`flow_dir_d8`."""
    offs = ", ".join(f"({d}, {dr}, {dc})" for d, dr, dc in _D8)
    return f"""
    with _px as ({pixels_sql}),
    _nb as (
      select _px.row, _px.col, _px.value as z, o.dir,
             _px.row + o.dr as nr, _px.col + o.dc as nc
      from _px, (values {offs}) o(dir, dr, dc)
      where _px.row + o.dr between 0 and {height - 1}
        and _px.col + o.dc between 0 and {width - 1}
    ),
    _j as (
      select n.row, n.col, n.z, n.dir, coalesce(p.value, 0) as zn
      from _nb n left join _px p on p.row = n.nr and p.col = n.nc
    ),
    _b as (
      select row, col,
             max(case when z > zn then (z - zn) * 16 + (15 - dir) end)
               as bestenc
      from _j group by row, col
    )
    select row, col,
           cast(case when bestenc is null then -1
                else 15 - (bestenc % 16) end as int) as flow_dir
    from _b
    """


def _d8_case(dir_col: str) -> tuple[str, str]:
    """(drow, dcol) SQL CASE exprs for a D8 direction column — one
    source of truth (_D8) for both engines."""
    dr = " ".join(f"when {dir_col} = {d} then {r}" for d, r, _ in _D8)
    dc = " ".join(f"when {dir_col} = {d} then {c}" for d, _, c in _D8)
    return f"case {dr} end", f"case {dc} end"


def flow_accumulate(pixels: DataFrame, width: int, height: int,
                    rounds: int = 3) -> DataFrame:
    """Bounded D8 flow accumulation: every present pixel starts with
    unit mass; each round routes all moving mass one step along
    :func:`flow_dir_d8` (pits absorb); the result is, per pixel, its
    own mass plus everything that ARRIVED within ``rounds`` steps →
    (row, col, acc_mass). The upstream-contributing-area approximation
    of DEM hydrology, bounded exactly like the BFS/Bellman–Ford
    supersteps (full accumulation = route to fixpoint). Mass can land
    on an ABSENT (implicit-zero) cell — downhill into the sea — and is
    absorbed there, exactly like at a pit: the output therefore covers
    present pixels plus reached zero cells.

    Scale shape: per round ONE equi-join of the moving-mass table
    against the (pixel → downstream-target) map + a map-side-combinable
    sum; mass rows only ever shrink (pits absorb). Integer throughout ⇒
    bit-exact vs the unrolled DuckDB twin. Per-round
    ``localCheckpoint(eager=False)`` keeps the plan O(1) in rounds."""
    fd = flow_dir_d8(pixels, width, height)
    dr_sql, dc_sql = _d8_case("flow_dir")
    tgt = (fd.filter(F.col("flow_dir") >= 0)
           .selectExpr("row", "col",
                       f"row + ({dr_sql}) as nr",
                       f"col + ({dc_sql}) as nc")
           .localCheckpoint(eager=False))
    mass = pixels.select("row", "col", F.lit(1).cast("long").alias("m"))
    acc = mass
    for _ in range(rounds):
        moved = (mass.join(tgt, ["row", "col"])
                 .groupBy(F.col("nr").alias("row"),
                          F.col("nc").alias("col"))
                 .agg(F.sum("m").alias("m"))
                 .localCheckpoint(eager=False))
        acc = (acc.unionAll(moved)
               .groupBy("row", "col").agg(F.sum("m").alias("m"))
               .localCheckpoint(eager=False))
        mass = moved
    return acc.select("row", "col", F.col("m").alias("acc_mass"))


def flow_accumulate_sql(pixels_sql: str, width: int, height: int,
                        rounds: int = 3) -> str:
    """Engine-neutral SQL twin of :func:`flow_accumulate` (unrolled)."""
    dr_sql, dc_sql = _d8_case("flow_dir")
    parts = [
        f"_fd as ({flow_dir_d8_sql(pixels_sql, width, height)})",
        f"_tgt as (select row, col, row + ({dr_sql}) as nr, "
        f"col + ({dc_sql}) as nc from _fd where flow_dir >= 0)",
        f"m0 as (select row, col, cast(1 as bigint) as m "
        f"from ({pixels_sql}))",
        "a0 as (select row, col, m from m0)",
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"m{t} as (select t.nr as row, t.nc as col, sum(x.m) as m "
            f"from m{t - 1} x join _tgt t using (row, col) "
            f"group by t.nr, t.nc)")
        parts.append(
            f"a{t} as (select row, col, sum(m) as m from ("
            f"select row, col, m from a{t - 1} union all "
            f"select row, col, m from m{t}) group by row, col)")
    return ("with " + ",\n".join(parts)
            + f"\nselect row, col, m as acc_mass from a{rounds}")


def flow_basin(pixels: DataFrame, width: int, height: int,
               jumps: int = 2) -> DataFrame:
    """Watershed basin labeling by POINTER JUMPING: every present pixel
    is labeled with the cell its D8 flow path reaches after 2^``jumps``
    steps (pits / reached zero cells are fixpoints) → (row, col,
    basin_row, basin_col). With enough jumps this is the watershed
    partition; bounded jumps cost ``jumps`` self-joins for 2^jumps
    steps of routing — the O(log path-length) trick
    ``dedup.connected_components`` uses, here on the flow DAG (contrast
    :func:`flow_accumulate`, which pays one join PER step because it
    needs the arriving mass at every intermediate cell, not just the
    terminus).

    Scale shape: each doubling is one equi-join of the pointer table
    with itself on the pointee key; the pointee side is UNIQUE per cell
    (one pointer row per pixel), so a popular basin terminus is many
    probe rows against one build row — a plain hash join with no
    fanout, never a hot-key explosion. Integer ⇒ bit-exact vs the
    unrolled DuckDB twin."""
    fd = flow_dir_d8(pixels, width, height)
    dr_sql, dc_sql = _d8_case("flow_dir")
    # f(p): one routing step; pits point at themselves (fixpoint)
    f = (fd.selectExpr(
            "row", "col",
            f"case when flow_dir >= 0 then row + ({dr_sql}) "
            f"else row end as pr",
            f"case when flow_dir >= 0 then col + ({dc_sql}) "
            f"else col end as pc")
         .localCheckpoint(eager=False))
    for _ in range(jumps):
        # f2(p) = f(f(p)); a pointee absent from f (an implicit-zero
        # cell, absorbing) is its own fixpoint
        g = f.select(F.col("row").alias("pr"), F.col("col").alias("pc"),
                     F.col("pr").alias("qr"), F.col("pc").alias("qc"))
        f = (f.join(g, ["pr", "pc"], "left")
             .select("row", "col",
                     F.coalesce("qr", "pr").alias("pr"),
                     F.coalesce("qc", "pc").alias("pc"))
             .localCheckpoint(eager=False))
    return f.select("row", "col", F.col("pr").alias("basin_row"),
                    F.col("pc").alias("basin_col"))


def flow_basin_sql(pixels_sql: str, width: int, height: int,
                   jumps: int = 2) -> str:
    """Engine-neutral SQL twin of :func:`flow_basin` (unrolled)."""
    dr_sql, dc_sql = _d8_case("flow_dir")
    parts = [
        f"_fd as ({flow_dir_d8_sql(pixels_sql, width, height)})",
        f"f0 as (select row, col, "
        f"case when flow_dir >= 0 then row + ({dr_sql}) else row end as pr, "
        f"case when flow_dir >= 0 then col + ({dc_sql}) else col end as pc "
        f"from _fd)",
    ]
    for t in range(1, jumps + 1):
        parts.append(
            f"f{t} as (select a.row, a.col, "
            f"coalesce(b.pr, a.pr) as pr, coalesce(b.pc, a.pc) as pc "
            f"from f{t - 1} a left join f{t - 1} b "
            f"on a.pr = b.row and a.pc = b.col)")
    return ("with " + ",\n".join(parts)
            + f"\nselect row, col, pr as basin_row, pc as basin_col "
            + f"from f{jumps}")


# ---------------------------------------------------------------------------
# chamfer distance transform (gdal_proximity shape)
# ---------------------------------------------------------------------------

_CHAMFER_OFFS = [(-1, -1, 4), (-1, 0, 3), (-1, 1, 4), (0, -1, 3),
                 (0, 1, 3), (1, -1, 4), (1, 0, 3), (1, 1, 4)]


def distance_transform(pixels: DataFrame, width: int, height: int,
                       rounds: int = 3) -> DataFrame:
    """Bounded chamfer-(3,4) distance transform over the sparse raster:
    distance-to-nearest-FEATURE for every in-bounds cell reachable
    within ``rounds`` propagation steps of a present pixel → (row, col,
    dist) with dist in chamfer units (orthogonal step 3, diagonal 4 —
    the classic integer approximation of ~3·euclidean; feature pixels
    score 0). The gdal_proximity / "how far is every page-tile from
    the nearest populated tile" surface, on the only representation
    that exists at a 10^12-page world canvas (non-empty rows only).

    ``rounds`` bounds the band: cells farther than ``rounds`` chamfer
    steps stay absent (a proximity query rarely needs the far field;
    full transform = run to fixpoint). Exactness within the band: a
    min-path of k ≤ rounds steps is found by round k, and extra rounds
    cannot lower it (min-combine is monotone).

    Scale shape: per round one fan-out-8 projection of the CURRENT
    band + a map-side-combinable min per cell — O(8·|band|) rows
    shuffled on the pixel key, no dense canvas, no window over a
    global sort. Per-round ``localCheckpoint(eager=False)`` keeps the
    plan O(1) in rounds. All integer ⇒ bit-exact vs the unrolled
    DuckDB twin."""
    offs = ", ".join(f"struct({dr} as dr, {dc} as dc, {w} as w)"
                     for dr, dc, w in _CHAMFER_OFFS)
    cur = pixels.select("row", "col",
                        F.lit(0).cast("long").alias("dist"))
    for _ in range(rounds):
        moved = (cur.selectExpr("row", "col", "dist",
                                f"explode(array({offs})) as o")
                 .selectExpr("row + o.dr as row", "col + o.dc as col",
                             "dist + o.w as dist")
                 .filter(f"row >= 0 and row < {height} "
                         f"and col >= 0 and col < {width}"))
        cur = (cur.unionAll(moved)
               .groupBy("row", "col").agg(F.min("dist").alias("dist"))
               .localCheckpoint(eager=False))
    return cur


def distance_transform_sql(pixels_sql: str, width: int, height: int,
                           rounds: int = 3) -> str:
    """Engine-neutral SQL twin of :func:`distance_transform`."""
    offs = ", ".join(f"({dr}, {dc}, {w})" for dr, dc, w in _CHAMFER_OFFS)
    parts = [
        f"_o as (select * from (values {offs}) as t(dr, dc, w))",
        f"dt0 as (select row, col, cast(0 as bigint) as dist "
        f"from ({pixels_sql}))",
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"dt{t} as (select row, col, min(dist) as dist from ("
            f"select row, col, dist from dt{t - 1} "
            f"union all "
            f"select d.row + o.dr as row, d.col + o.dc as col, "
            f"d.dist + o.w as dist from dt{t - 1} d cross join _o o"
            f") where row >= 0 and row < {height} "
            f"and col >= 0 and col < {width} "
            f"group by row, col)")
    return ("with " + ",\n".join(parts)
            + f"\nselect row, col, dist from dt{rounds}")


# ---------------------------------------------------------------------------
# raster polygonize (equal-class connected regions, gdal_polygonize shape)
# ---------------------------------------------------------------------------

def polygonize_regions(pixels: DataFrame, width: int) -> DataFrame:
    """Label 4-connected equal-CLASS regions of a sparse classified
    raster and aggregate each region → (region_id, cls, n_pixels,
    min_row, min_col, max_row, max_col). The gdal_polygonize shape:
    a classified burn (land-cover band, thresholded density, …) turned
    into discrete region features with their class and bbox;
    region_id = min pixel id (row·width + col) in the region —
    deterministic, so the whole table is hash-exact cross-engine.

    ``pixels``: (row int, col int, cls bigint) — one row per non-empty
    cell (absent cells are background and never merge regions).

    Scale shape: adjacency comes from TWO self-equi-joins of the pixel
    table on the shifted key ((row, col+1) / (row+1, col)) with the
    class equality in the join condition — no fan-out beyond 2 rows per
    pixel, no dense canvas — and the region labels come from
    ``dedup.connected_components`` (partition-local union-find
    contraction + pointer-jumped min-label propagation, O(log diameter)
    rounds). A continent-sized region costs O(log diameter) rounds, not
    O(perimeter). Reusing the dedup CC kernel for raster topology is
    the point: one scalable component engine serves text near-dup
    clusters, watershed basins, and region polygonize alike."""
    from zen3geo_spark.operators.dedup import connected_components

    ids = pixels.select(
        (F.col("row") * width + F.col("col")).cast("long").alias("id"),
        "row", "col", "cls")
    a = ids.select(F.col("id").alias("a_id"), "row", "col", "cls")
    b = ids.select(F.col("id").alias("b_id"),
                   F.col("row").alias("brow"), F.col("col").alias("bcol"),
                   F.col("cls").alias("bcls"))
    right = a.join(b, (F.col("brow") == F.col("row"))
                   & (F.col("bcol") == F.col("col") + 1)
                   & (F.col("bcls") == F.col("cls")))
    down = a.join(b, (F.col("brow") == F.col("row") + 1)
                  & (F.col("bcol") == F.col("col"))
                  & (F.col("bcls") == F.col("cls")))
    edges = (right.select("a_id", "b_id")
             .unionAll(down.select("a_id", "b_id")))
    comp = connected_components(
        edges, nodes=ids.select(F.col("id").alias("node")))
    return (ids.join(comp.withColumnRenamed("node", "id"), on="id")
            .groupBy(F.col("component").alias("region_id"), "cls")
            .agg(F.count("*").alias("n_pixels"),
                 F.min("row").alias("min_row"), F.min("col").alias("min_col"),
                 F.max("row").alias("max_row"), F.max("col").alias("max_col")))


def polygonize_regions_sql_duckdb(pixels_cls_sql: str, width: int) -> str:
    """DuckDB twin of :func:`polygonize_regions`: recursive-CTE
    reachability over the same 4-adjacency equal-class edges (oracle
    scale — regions are small), aggregated identically.
    ``pixels_cls_sql`` must be FLAT CTE-injectable (self-contained
    select yielding (row, col, cls))."""
    return f"""
with recursive
_px as ({pixels_cls_sql}),
_ids as (select row * {width} + col as id, row, col, cls from _px),
_e as (
  select a.id as u, b.id as v from _ids a join _ids b
    on b.row = a.row and b.col = a.col + 1 and b.cls = a.cls
  union all
  select a.id as u, b.id as v from _ids a join _ids b
    on b.row = a.row + 1 and b.col = a.col and b.cls = a.cls
),
_es as (select u, v from _e union all select v as u, u as v from _e),
reach(a, b) as (
  select id, id from _ids
  union
  select r.a, e.v from reach r join _es e on e.u = r.b
),
comp as (select a as id, min(b) as component from reach group by a)
select c.component as region_id, x.cls,
       count(*) as n_pixels,
       min(x.row) as min_row, min(x.col) as min_col,
       max(x.row) as max_row, max(x.col) as max_col
from comp c join _ids x on x.id = c.id
group by c.component, x.cls
"""


# ---------------------------------------------------------------------------
# histogram equalization (gdal -equalize / contrast-stretch shape)
# ---------------------------------------------------------------------------

def equalize_histogram(pixels: DataFrame, levels: int = 256) -> DataFrame:
    """Integer histogram equalization of a sparse raster → (row, col,
    value, eq_value) with eq_value in [0, levels−1]: the classic
    contrast stretch ``eq = (cdf(v) − cdf_min) · (levels−1) div
    (n − cdf_min)`` using the CUMULATIVE count of pixels at or below
    each value. All-integer ⇒ hash-exact.

    Scale shape: the rank does NOT come from a global sort window over
    the pixels (that plan dies at 10^12 rows). Instead: one value
    histogram (group-by value, map-side combinable), a running sum
    over the VALUE-CARDINALITY table (thousands of distinct levels,
    one tiny window), and a broadcast join of the value→eq_value map
    back onto the pixel table — the corpus is touched exactly twice,
    shuffles once, and the window never sees data-sized input."""
    from pyspark.sql.window import Window

    from zen3geo_spark.operators._util import pair_all

    hist = pixels.groupBy("value").agg(F.count("*").alias("cnt"))
    wv = (Window.orderBy("value")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cdf = hist.withColumn("cdf", F.sum("cnt").over(wv))
    tot = cdf.agg(F.max("cdf").alias("n"), F.min("cdf").alias("cdf_min"))
    remap = pair_all(cdf, tot).selectExpr(
        "value",
        f"case when n = cdf_min then 0 else "
        f"(cdf - cdf_min) * {levels - 1} div (n - cdf_min) end as eq_value")
    return (pixels.join(F.broadcast(remap), "value")
            .select("row", "col", "value", "eq_value"))


def equalize_histogram_sql(pixels_sql: str, levels: int = 256) -> str:
    """Engine-neutral SQL twin of :func:`equalize_histogram`."""
    return f"""
with _px as ({pixels_sql}),
_h as (select value, count(*) as cnt from _px group by value),
_c as (select value, sum(cnt) over (order by value
         rows between unbounded preceding and current row) as cdf
       from _h),
_t as (select max(cdf) as n, min(cdf) as cdf_min from _c),
_m as (select value,
              case when n = cdf_min then 0 else
                (cdf - cdf_min) * {levels - 1} // (n - cdf_min) end
                as eq_value
       from _c cross join _t)
select p.row, p.col, p.value, m.eq_value
from _px p join _m m using (value)
"""


CHANGE_NODATA = 0   # class of a pixel absent from one epoch


def change_matrix(a: DataFrame, b: DataFrame) -> DataFrame:
    """Raster change detection: the class-transition matrix between two
    epoch rasters (the land-cover change-stats shape, here crawl
    density classes between snapshots). Inputs are sparse class
    rasters ``(row, col, cls)``; pixels absent from a side take
    ``CHANGE_NODATA``. One pixel-keyed full-outer equi-join (unique keys both
    sides — skew-free, bucket-co-locatable) then a class-pair count
    whose cardinality is classes², not pixels. Integer ⇒ hash-exact."""
    ja = a.selectExpr("row", "col", "cls as _ca")
    jb = b.selectExpr("row", "col", "cls as _cb")
    return (ja.join(jb, ["row", "col"], "full_outer")
            .selectExpr(f"coalesce(_ca, {CHANGE_NODATA}) as cls_a",
                        f"coalesce(_cb, {CHANGE_NODATA}) as cls_b")
            .groupBy("cls_a", "cls_b")
            .agg(F.count("*").alias("n_pixels")))


def change_matrix_sql(a_sql: str, b_sql: str) -> str:
    """Engine-neutral twin of :func:`change_matrix`."""
    return f"""
    with _a as ({a_sql}), _b as ({b_sql})
    select coalesce(a.cls, {CHANGE_NODATA}) as cls_a,
           coalesce(b.cls, {CHANGE_NODATA}) as cls_b,
           count(*) as n_pixels
    from _a a full outer join _b b
      on a.row = b.row and a.col = b.col
    group by 1, 2
    """
