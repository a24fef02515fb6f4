"""Map matching: snap points to the nearest reference segment.

The road-network snap (OSRM/Valhalla's first stage, PostGIS
``ST_ClosestPoint``): each GPS/geotag point is matched to the nearest
segment of a reference polyline set within a bounded search radius.

Scale design — the same two-sided cell gate as the kNN/IDW kernels:

* segments REGISTER under every grid cell their bbox overlaps (choose
  ``res`` so a segment spans O(1) cells — bounded fan-out);
* points PROBE their 3x3 ring (clamp lat / wrap lon);
* candidates meet via an equi-join on the cell id — never an all-pairs
  distance join; the search radius is the ring guarantee (points with
  no segment in the ring stay unmatched — the standard matching gate);
* the snap itself is FIXED-POINT integer arithmetic: the projection
  parameter is ``t = clamp(0, T, T*dot div len2)`` (non-negative
  integer division only — Spark ``div`` truncates toward zero while
  DuckDB ``//`` floors, so every division in the kernel is arranged to
  be non-negative) and the distance is computed at T^2 scale,
  ``D2 = |T*(p-a) - t*(b-a)|^2``, with NO division at all — exact
  bigints, bit-identical across engines.

Magnitude budget (T=64, res=6): ring radius <= ~1.2e7 udeg with
segment extent <= ~2e6 ⇒ |T*(p-a)| <= ~8e8, D2 <= ~1.3e18 < 2^63.
The point->anchor longitude delta is wrap-normalized onto
(-180e6, 180e6] first — ring probes cross the antimeridian, where the
raw delta is ~360e6 (both geodesically wrong and a T^2 overflow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from zen3geo_spark.functions.geo import (
    cell_encode, cell_from_iy_ix, cell_ix_sql, cell_iy_sql, cell_neighbors,
    explode_bbox_cells,
)

T_SCALE = 64  # fixed-point projection resolution


def map_match(points: DataFrame, segments: DataFrame,
              res: int = 6) -> DataFrame:
    """Nearest-segment snap within the 3x3 ring at ``res``.

    ``points``: (point_id, lat_us, lon_us). ``segments``:
    (seg_id, x1, y1, x2, y2) — micro-degree bigints, bbox within world
    bounds, extent small vs the cell size (the caller's contract).
    Returns (point_id, seg_id, t_scaled, d2) for matched points only:
    the argmin-(d2, seg_id) candidate, ``t_scaled`` in [0, T_SCALE],
    ``d2`` the snapped squared distance in udeg^2 (T^2-descaled,
    non-negative integer division).
    """
    T = T_SCALE
    # segment registration: every cell the bbox overlaps
    seg = explode_bbox_cells(segments, F.least("y1", "y2"), F.greatest("y1", "y2"),
                             F.least("x1", "x2"), F.greatest("x1", "x2"), res)
    seg = seg.select("seg_id", "x1", "y1", "x2", "y2",
                     cell_from_iy_ix(F.col("iy"), F.col("ix"), res).alias("cell"))
    # point probe: the 3x3 ring as an in-row array_distinct — no dedup
    # shuffle
    pt = points.select(
        "point_id", "lat_us", "lon_us",
        F.explode(cell_neighbors(cell_encode("lat_us", "lon_us", res), res))
        .alias("cell"))

    c = pt.join(seg, "cell")
    dx, dy = F.col("x2") - F.col("x1"), F.col("y2") - F.col("y1")
    # wrap the point->anchor longitude delta onto (-180e6, 180e6]: ring
    # probes wrap across the antimeridian, so the raw delta can be
    # ~360e6 for a legal candidate (and would overflow at T^2 scale);
    # the shift keeps every operand of the non-negative %
    py = F.col("lat_us") - F.col("y1")
    px = ((F.col("lon_us") - F.col("x1") + F.lit(540_000_000))
          % F.lit(360_000_000)) - F.lit(180_000_000)
    len2 = dx * dx + dy * dy
    dot = px * dx + py * dy
    # non-negative division only: clamp the numerator first
    c = (c.withColumn("px_", dot)
         .withColumn("len2_", len2)
         .withColumn("t_scaled", F.when(
             F.col("len2_") > 0,
             F.expr(f"least(greatest({T} * px_, 0), {T} * len2_) div len2_"))
             .otherwise(F.lit(0)).cast("long")))
    ex = px * F.lit(T) - F.col("t_scaled") * dx
    ey = py * F.lit(T) - F.col("t_scaled") * dy
    c = c.withColumn("_D2", (ex * ex + ey * ey).cast("long"))
    w = Window.partitionBy("point_id").orderBy(
        F.col("_D2").asc(), F.col("seg_id").asc())
    return (c.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("point_id", "seg_id", "t_scaled",
                    F.expr(f"_D2 div {T * T}").alias("d2")))


def map_match_sql(points_sql: str, segments_sql: str, res: int = 6) -> str:
    """DuckDB twin: the same candidate gate expressed as a direct
    range-overlap predicate (segment cell-range vs point ring), then
    the identical fixed-point snap arithmetic."""
    n = 1 << res
    T = T_SCALE

    def iy(c):
        return cell_iy_sql(c, res, "duckdb")

    def ix(c):
        return cell_ix_sql(c, res, "duckdb")

    ring_ix_hit = " or ".join(
        f"((p.pix + {d} + {n}) % {n}) between s.six0 and s.six1"
        for d in (-1, 0, 1))
    return f"""
    with _pt as ({points_sql}),
    _sg as ({segments_sql}),
    p as (select *, {iy('lat_us')} as piy, {ix('lon_us')} as pix from _pt),
    s as (select *,
                 {iy('least(y1, y2)')} as siy0, {iy('greatest(y1, y2)')} as siy1,
                 {ix('least(x1, x2)')} as six0, {ix('greatest(x1, x2)')} as six1
          from _sg),
    cand as (
      select p.point_id, p.lat_us, p.lon_us,
             s.seg_id, s.x1, s.y1, s.x2, s.y2
      from p join s
        on s.siy1 >= greatest(p.piy - 1, 0)
       and s.siy0 <= least(p.piy + 1, {n - 1})
       and ({ring_ix_hit})
    ),
    delta as (
      select point_id, seg_id,
             (lon_us - x1 + 540000000) % 360000000 - 180000000 as px,
             lat_us - y1 as py,
             x2 - x1 as dx, y2 - y1 as dy
      from cand
    ),
    snap as (
      select point_id, seg_id, px, py, dx, dy,
             case when dx*dx + dy*dy > 0
               then least(greatest({T} * (px*dx + py*dy), 0),
                          {T} * (dx*dx + dy*dy)) // (dx*dx + dy*dy)
               else 0 end as t_scaled
      from delta
    ),
    scored as (
      select point_id, seg_id, t_scaled,
             (px*{T} - t_scaled*dx) * (px*{T} - t_scaled*dx)
             + (py*{T} - t_scaled*dy) * (py*{T} - t_scaled*dy) as D2
      from snap
    )
    select point_id, seg_id, t_scaled, D2 // {T * T} as d2
    from (select *, row_number() over (partition by point_id
                                       order by D2 asc, seg_id asc) as rk
          from scored)
    where rk = 1
    """
