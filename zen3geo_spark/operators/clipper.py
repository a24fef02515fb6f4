"""Rectangle clip + spatial pairing: GeoPandasRectangleClipper for Spark.

Reference semantics (/root/reference/zen3geo/datapipes/geopandas.py:15-177):
exactly ONE global vector set (:151-158, NotImplementedError otherwise);
for each raster chip, mask = chip pixel-edge bounds (:164), clip the vector
to that rectangle (:172), yield (clipped vector, chip) pairs. Goldens:
tests/test_datapipes_geopandas.py:77-90.

Spark shape: broadcast the (small) vector geometries against the chip
table with a bbox-overlap range predicate (prunes before any geometry
math), then exact Sutherland–Hodgman polygon⊓rectangle clipping inside a
grouped pandas kernel. Point/line inputs reduce to pure-SQL predicates.
This is the engine's broadcast spatial-join workhorse; the large-large
variant goes through operators/spatial_join.py with a cell-index equi-key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CLIP_SCHEMA = (
    "chip_id long, geom_id long, clip_minx double, clip_miny double, "
    "clip_maxx double, clip_maxy double, n_vertices int"
)


def chip_bounds_from_grid(grid: DataFrame, clip_minx: float, clip_miny: float,
                          clip_maxx: float, clip_maxy: float, chip_id: int) -> DataFrame:
    """rio.clip_box-equivalent: select pixels whose CENTER lies in the box,
    then report chip pixel-edge bounds (center extremes ± half a unit
    pixel) —
    matches rio bounds goldens (-1.5,-0.5,1.5,1.5)/(2.5,2.5,5.5,4.5)."""
    sel = grid.filter(
        (F.col("x") >= clip_minx) & (F.col("x") <= clip_maxx)
        & (F.col("y") >= clip_miny) & (F.col("y") <= clip_maxy)
    )
    return sel.groupBy().agg(
        F.lit(chip_id).cast("long").alias("chip_id"),
        (F.min("x") - 0.5).alias("xmin"),
        (F.min("y") - 0.5).alias("ymin"),
        (F.max("x") + 0.5).alias("xmax"),
        (F.max("y") + 0.5).alias("ymax"),
        F.countDistinct("y").alias("height"),
        F.countDistinct("x").alias("width"),
        F.first("crs").alias("crs"),
    )


def validate_single_vector(geoms_df: DataFrame) -> None:
    vset = "vset_id" if "vset_id" in geoms_df.columns else None
    n = geoms_df.select(vset).distinct().count() if vset else 1
    if n != 1:
        raise NotImplementedError(
            "The vector datapipe's length can only be 1 (single global "
            f"vector set); got {n}"
        )


def clip_vector_with_rectangle(geoms_df: DataFrame, chips_df: DataFrame) -> DataFrame:
    """For each chip, clip each bbox-overlapping geometry to the chip
    rectangle. Output: one row per surviving (chip, geometry) with exact
    clipped-polygon bounds and vertex count."""
    validate_single_vector(geoms_df)
    from zen3geo_spark.operators._util import pair_all
    # broadcast pairing + bbox-overlap filter: for a broadcast small side
    # this is work-equivalent to a nested-loop range join, but plans as a
    # BroadcastHashJoin + Filter (the bbox still prunes before any
    # geometry math reaches the pandas kernel)
    pairs = pair_all(chips_df, geoms_df.drop("crs", "vset_id")).filter(
        (F.col("minx") < F.col("xmax")) & (F.col("maxx") > F.col("xmin"))
        & (F.col("miny") < F.col("ymax")) & (F.col("maxy") > F.col("ymin"))
    )
    return pairs.groupBy("chip_id").applyInPandas(_clip_group, schema=CLIP_SCHEMA)


def suggested_warp_grid(xmin: float, ymin: float, xmax: float, ymax: float,
                        width: int, height: int, dst_crs: str) -> tuple:
    """GDALSuggestedWarpOutput-compatible destination grid for
    reprojecting a chip (the algorithm behind ``rio.reproject``'s default
    transform — public GDAL behavior, verified against the reference's
    EPSG:3857/32631 bounds goldens):

    * extent = bbox of the forward-transformed edge samples;
    * square pixel = (distance between the transformed corner pixels) /
      (source diagonal in pixels);
    * output size = extent / pixel, rounded half-up, anchored at
      (left, top).

    Driver-side planning math over chip METADATA (a handful of floats per
    chip) — exactly like the reference's per-chip ``rio.reproject`` call.
    Returns (xmin, ymin, xmax, ymax, pixel, out_width, out_height) in
    ``dst_crs`` coordinates.
    """
    from zen3geo_spark.functions.geo import crs_forward_np

    fwd = crs_forward_np(dst_crs)
    ys = np.linspace(ymin, ymax, 21)
    xs = np.linspace(xmin, xmax, 21)
    exs, eys = [], []
    for x_edge in (xmin, xmax):
        ex, ey = fwd(ys, np.full_like(ys, x_edge))
        exs.append(ex), eys.append(ey)
    for y_edge in (ymin, ymax):
        ex, ey = fwd(np.full_like(xs, y_edge), xs)
        exs.append(ex), eys.append(ey)
    allx, ally = np.concatenate(exs), np.concatenate(eys)
    left, right = float(allx.min()), float(allx.max())
    bot, top = float(ally.min()), float(ally.max())
    e00, n00 = fwd(ymax, xmin)   # top-left corner pixel
    e11, n11 = fwd(ymin, xmax)   # bottom-right corner pixel
    pixel = float(np.hypot(e11 - e00, n11 - n00) / np.hypot(width, height))
    out_w = int((right - left) / pixel + 0.5)
    out_h = int((top - bot) / pixel + 0.5)
    return (left, top - out_h * pixel, left + out_w * pixel, top,
            pixel, out_w, out_h)


CLIP_CRS_SCHEMA = CLIP_SCHEMA + ", crs string"


def clip_vector_with_rectangle_crs(geoms_df: DataFrame, chips_df: DataFrame) -> DataFrame:
    """Per-chip-CRS clipper (the reference's different-CRS path,
    geopandas.py:164-172): each chip carries its own ``crs`` and bounds in
    that CRS; geometry VERTICES are forward-transformed to the chip's CRS
    (exactly geopandas ``to_crs`` semantics — vertices only, straight
    edges) and Sutherland–Hodgman-clipped against the chip rectangle.

    The pairing is a broadcast of the single global vector set against the
    chip table (the reference's own shape); the transform + clip run
    vectorized per chip group. At scale, prune chips×geoms first with a
    bbox overlap in a COMMON CRS (the same-CRS ``clip_vector_with_
    rectangle`` path) before falling into the per-CRS kernel.
    """
    validate_single_vector(geoms_df)
    from zen3geo_spark.operators._util import pair_all
    pairs = pair_all(chips_df, geoms_df.drop("vset_id")
                     .withColumnRenamed("crs", "geom_crs"))

    def clip_group(pdf: pd.DataFrame) -> pd.DataFrame:
        from zen3geo_spark.functions.geo import crs_forward_np

        rows = []
        for r in pdf.itertuples(index=False):
            fwd = (None if r.crs == r.geom_crs else crs_forward_np(r.crs))
            for ring in r.parts:
                ring_np = np.array([[p["x"], p["y"]] for p in ring])
                if fwd is not None:
                    ex, ey = fwd(ring_np[:, 1], ring_np[:, 0])
                    ring_np = np.stack([ex, ey], axis=1)
                clipped = _sutherland_hodgman(
                    ring_np, r.xmin, r.ymin, r.xmax, r.ymax)
                if len(clipped) >= 3:
                    rows.append((r.chip_id, r.geom_id,
                                 float(clipped[:, 0].min()), float(clipped[:, 1].min()),
                                 float(clipped[:, 0].max()), float(clipped[:, 1].max()),
                                 int(len(clipped)), r.crs))
        cols = ["chip_id", "geom_id", "clip_minx", "clip_miny",
                "clip_maxx", "clip_maxy", "n_vertices", "crs"]
        return pd.DataFrame(rows, columns=cols)

    return pairs.groupBy("chip_id").applyInPandas(
        clip_group, schema=CLIP_CRS_SCHEMA)


def _sutherland_hodgman(ring: np.ndarray, xmin, ymin, xmax, ymax) -> np.ndarray:
    """Clip a closed ring (N,2) against an axis-aligned rectangle."""
    def clip_edge(poly, inside, intersect):
        if len(poly) == 0:
            return poly
        out = []
        prev = poly[-1]
        prev_in = inside(prev)
        for cur in poly:
            cur_in = inside(cur)
            if cur_in:
                if not prev_in:
                    out.append(intersect(prev, cur))
                out.append(cur)
            elif prev_in:
                out.append(intersect(prev, cur))
            prev, prev_in = cur, cur_in
        return np.array(out) if out else np.empty((0, 2))

    def x_cut(a, b, x):
        t = (x - a[0]) / (b[0] - a[0])
        return np.array([x, a[1] + t * (b[1] - a[1])])

    def y_cut(a, b, y):
        t = (y - a[1]) / (b[1] - a[1])
        return np.array([a[0] + t * (b[0] - a[0]), y])

    p = ring
    p = clip_edge(p, lambda v: v[0] >= xmin, lambda a, b: x_cut(a, b, xmin))
    p = clip_edge(p, lambda v: v[0] <= xmax, lambda a, b: x_cut(a, b, xmax))
    p = clip_edge(p, lambda v: v[1] >= ymin, lambda a, b: y_cut(a, b, ymin))
    p = clip_edge(p, lambda v: v[1] <= ymax, lambda a, b: y_cut(a, b, ymax))
    return p


def _clip_group(pdf: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for r in pdf.itertuples(index=False):
        for ring in r.parts:
            ring_np = np.array([[p["x"], p["y"]] for p in ring])
            clipped = _sutherland_hodgman(ring_np, r.xmin, r.ymin, r.xmax, r.ymax)
            if len(clipped) >= 3:
                rows.append((r.chip_id, r.geom_id,
                             clipped[:, 0].min(), clipped[:, 1].min(),
                             clipped[:, 0].max(), clipped[:, 1].max(),
                             len(clipped)))
    return pd.DataFrame(
        rows, columns=["chip_id", "geom_id", "clip_minx", "clip_miny",
                       "clip_maxx", "clip_maxy", "n_vertices"]
    ).astype({"chip_id": "int64", "geom_id": "int64", "n_vertices": "int32"}) \
        if rows else pd.DataFrame({
            "chip_id": pd.Series([], dtype="int64"),
            "geom_id": pd.Series([], dtype="int64"),
            "clip_minx": pd.Series([], dtype="float64"),
            "clip_miny": pd.Series([], dtype="float64"),
            "clip_maxx": pd.Series([], dtype="float64"),
            "clip_maxy": pd.Series([], dtype="float64"),
            "n_vertices": pd.Series([], dtype="int32"),
        })
