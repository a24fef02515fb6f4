"""Multi-item → datacube stacking: StackSTACStacker for Spark.

Reference semantics (/root/reference/zen3geo/datapipes/stackstac.py:106-187):
stack per-item rasters into a (time, band, y, x) cube on a common grid;
kwargs select assets/bands, clip to bounds, choose resolution/resampling.
Golden: 3 assets → (1,3,10980,10980) with bound/resolution goldens
(tests/test_datapipes_stackstac.py:28-50).

Spark shape: UNION of per-item long-form tile tables + snap-to-common-grid
(nearest-neighbor: integer floor of the affine transform — pure SQL), with
band selection as `isin` filter and bounds as range filters (both pushed
down to the parquet scan by Catalyst).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snap_to_grid(tiles: DataFrame, xmin: float, ymax: float, res: float) -> DataFrame:
    """Nearest-neighbor regrid: world (x,y) → common-grid (y_idx, x_idx).

    Grid convention: north-up, row 0 at ymax (affine e = -res).
    """
    return tiles.withColumn(
        "x_idx", F.floor((F.col("x") - F.lit(xmin)) / F.lit(res)).cast("int")
    ).withColumn(
        "y_idx", F.floor((F.lit(ymax) - F.col("y")) / F.lit(res)).cast("int")
    )


def regrid_bilinear(tiles: DataFrame, src_grid: tuple[float, float, float],
                    dst_grid: tuple[float, float, float, int, int]) -> DataFrame:
    """Bilinear regrid of a long-form pixel table — the reference's
    ``stackstac.stack(..., resampling=Resampling.bilinear)`` kwarg
    (/root/reference/zen3geo/datapipes/stackstac.py:184,
    docs/stacking.md:283-291) as pure DataFrame algebra, no UDF:

    * every TARGET pixel center explodes to its 4 surrounding SOURCE
      pixel indices with the separable weights (1−fx)(1−fy) … fx·fy;
    * one equi-join on (time, band, sx, sy) attaches source values;
    * sum(w·v)/sum(w) per target pixel — the weight renormalization
      gives GDAL-style edge clamping where a corner is missing.

    src_grid = (xmin, ymax, res) of the source pixel-center lattice;
    dst_grid = (xmin, ymax, res, width, height) of the output. Work is
    4 rows per target pixel through one shuffle keyed by source index —
    the same join shape at any scale.
    """
    sxmin, symax, sres = src_grid
    dxmin, dymax, dres, width, height = dst_grid
    spark = tiles.sparkSession

    src = tiles.select(
        "time", "band",
        F.round((F.col("x") - F.lit(sxmin)) / F.lit(sres) - 0.5).cast("int").alias("sx"),
        F.round((F.lit(symax) - F.col("y")) / F.lit(sres) - 0.5).cast("int").alias("sy"),
        F.col("value").alias("_v"),
    )
    key_combos = tiles.select("time", "band").distinct()
    # target grid generated per key combo by nested explodes — no join
    # (and no cross product) between the key table and the grid
    tgt = (key_combos
           .select("*", F.explode(F.sequence(F.lit(0), F.lit(height - 1)))
                   .alias("y_idx"))
           .select("*", F.explode(F.sequence(F.lit(0), F.lit(width - 1)))
                   .alias("x_idx")))
    # fractional source position of the target center
    u = (F.lit(dxmin) + (F.col("x_idx") + 0.5) * F.lit(dres) - F.lit(sxmin)) / F.lit(sres) - 0.5
    v = (F.lit(symax) - (F.lit(dymax) - (F.col("y_idx") + 0.5) * F.lit(dres))) / F.lit(sres) - 0.5
    tgt = tgt.withColumn("_u", u).withColumn("_v0", v).select(
        "*",
        F.floor("_u").cast("int").alias("_sx0"),
        F.floor("_v0").cast("int").alias("_sy0"),
    ).select(
        "*",
        (F.col("_u") - F.col("_sx0")).alias("_fx"),
        (F.col("_v0") - F.col("_sy0")).alias("_fy"),
    )
    corners = F.array(*[
        F.struct(
            (F.col("_sx0") + dx).alias("sx"), (F.col("_sy0") + dy).alias("sy"),
            ((F.col("_fx") if dx else 1.0 - F.col("_fx"))
             * (F.col("_fy") if dy else 1.0 - F.col("_fy"))).alias("w"),
        )
        for dy in (0, 1) for dx in (0, 1)
    ])
    exploded = tgt.select("time", "band", "x_idx", "y_idx",
                          F.explode(corners).alias("c")) \
        .select("time", "band", "x_idx", "y_idx", "c.sx", "c.sy", "c.w")
    joined = exploded.join(src, ["time", "band", "sx", "sy"])
    return joined.groupBy("time", "band", "y_idx", "x_idx").agg(
        (F.sum(F.col("w") * F.col("_v")) / F.sum("w")).alias("value"))


def build_overviews(tiles: DataFrame, levels: int = 2) -> DataFrame:
    """Build a multi-resolution pyramid (COG overviews / the reference's
    DataTree multi-resolution hierarchy, docs/multi-resolution.md:221-234):
    level L+1 is the 2x2-block mean of level L.

    Input: long-form pixels (band, y_idx, x_idx, value) at level 0.
    Output: union of all levels with a ``level`` column — the table
    ``sources.raster.scan_tiles`` prunes by. One hash aggregate per level,
    each reading the previous level (geometric shrink: the whole pyramid
    costs ~1/3 extra rows).
    """
    out = tiles.select(
        F.lit(0).alias("level"), "band", "y_idx", "x_idx", "value")
    levels_dfs = [out]
    cur = out
    for lvl in range(1, levels + 1):
        cur = (
            cur.groupBy(
                "band",
                # floor-div (not truncate-toward-zero) so negative grid
                # indices bucket identically to the oracle's `//`
                F.floor(F.col("y_idx") / 2).cast("int").alias("y_idx"),
                F.floor(F.col("x_idx") / 2).cast("int").alias("x_idx"),
            )
            .agg(F.avg("value").alias("value"))
            .select(F.lit(lvl).alias("level"), "band", "y_idx", "x_idx", "value")
        )
        levels_dfs.append(cur)
    return reduce(DataFrame.unionByName, levels_dfs)


# numpy-ish dtype names → Spark cast targets. float16 widens to float32:
# Spark has no half type, and stackstac's float16 is a footprint choice,
# not a semantics one — values are preserved, storage is what differs.
_DTYPE_MAP = {
    "float16": "float", "float32": "float", "float64": "double",
    "int8": "tinyint", "int16": "smallint", "int32": "int", "int64": "bigint",
    "uint8": "smallint", "uint16": "int", "uint32": "bigint",
}


def _grid_lattice(df: DataFrame, width: int, height: int) -> DataFrame:
    """Full ((time, band) × y_idx × x_idx) lattice via nested explodes
    over the DISTINCT key combos — no cartesian join, rows =
    |combos|·width·height generated executor-side."""
    return (df.select("time", "band").distinct()
            .select("*", F.explode(F.sequence(F.lit(0), F.lit(height - 1)))
                    .alias("y_idx"))
            .select("*", F.explode(F.sequence(F.lit(0), F.lit(width - 1)))
                    .alias("x_idx")))


def stack(item_tiles: list[DataFrame] | DataFrame, assets: list[str] | None = None,
          bounds: tuple[float, float, float, float] | None = None,
          xmin: float | None = None, ymax: float | None = None,
          res: float | None = None, resampling: str = "nearest",
          src_grid: tuple[float, float, float] | None = None,
          dst_size: tuple[int, int] | None = None,
          xy_coords: str | None = None, dtype: str | None = None,
          fill_value: float | None = None) -> DataFrame:
    """Union per-item tables into one cube; optional band/bounds selection
    and regrid. Input rows need (time, band, x, y, value).

    ``resampling``: 'nearest' (floor snap, default) or 'bilinear'
    (4-corner weighted resample — needs ``src_grid`` = (xmin, ymax, res)
    of the source lattice and ``dst_size`` = (width, height)), mirroring
    the reference's ``stackstac.stack(resolution=…, resampling=…)``.

    Remaining ``stackstac.stack`` kwargs (reference
    /root/reference/zen3geo/datapipes/stackstac.py:106-126, exercised in
    docs/stacking.md:244-251):

    * ``xy_coords``: 'topleft' or 'center' — adds world-coordinate label
      columns (x_coord, y_coord) for each grid index, at the pixel's
      top-left corner or centroid. Needs a grid (``res``).
    * ``dtype``: cast the value column; accepts numpy-ish names
      ('float32', 'int16', …; 'float16' widens to float — Spark has no
      half type) or any Spark SQL type string.
    * ``fill_value``: densify the output to the FULL (time, band, y, x)
      lattice — grid positions no source pixel landed on get this value
      (stackstac fills areas an asset doesn't cover). Needs an output
      grid of known extent: ``dst_size``, or ``bounds`` + ``res``.
      Lattice rows are generated per key-combo via nested explodes and
      left-joined on the grid index — no cartesian product; at scale the
      join shuffles on (time, band, y_idx, x_idx) exactly like the
      regrid itself.
    """
    df = (reduce(DataFrame.unionByName, item_tiles)
          if isinstance(item_tiles, list) else item_tiles)
    if assets is not None:
        df = df.filter(F.col("band").isin(assets))
    if bounds is not None:
        bxmin, bymin, bxmax, bymax = bounds
        df = df.filter(
            (F.col("x") >= bxmin) & (F.col("x") < bxmax)
            & (F.col("y") > bymin) & (F.col("y") <= bymax)
        )
    gxmin = xmin if xmin is not None else (bounds[0] if bounds else 0.0)
    gymax = ymax if ymax is not None else (bounds[3] if bounds else 0.0)
    if res is not None:
        if resampling == "bilinear":
            if src_grid is None or dst_size is None:
                raise ValueError("bilinear resampling needs src_grid and dst_size")
            df = regrid_bilinear(df, src_grid,
                                 (gxmin, gymax, res, dst_size[0], dst_size[1]))
        elif resampling != "nearest":
            raise NotImplementedError(f"resampling {resampling!r}")
        else:
            df = snap_to_grid(df, gxmin, gymax, res)
    if fill_value is not None:
        if res is None:
            raise ValueError("fill_value needs an output grid (res=…)")
        if dst_size is not None:
            width, height = dst_size
        elif bounds is not None:
            import math
            width = int(math.ceil((bounds[2] - bounds[0]) / res))
            height = int(math.ceil((bounds[3] - bounds[1]) / res))
        else:
            raise ValueError("fill_value needs dst_size or bounds to size "
                             "the lattice")
        lattice = _grid_lattice(df, width, height)
        present = df.select("time", "band", "y_idx", "x_idx").distinct() \
            .withColumn("_has", F.lit(True))
        missing = (lattice.join(present, ["time", "band", "y_idx", "x_idx"],
                                "left")
                   .filter(F.col("_has").isNull())
                   .drop("_has")
                   .withColumn("value", F.lit(float(fill_value))))
        # align schemas: fill rows carry NULL for any extra source columns
        for c in df.columns:
            if c not in missing.columns:
                missing = missing.withColumn(
                    c, F.lit(None).cast(df.schema[c].dataType))
        df = df.unionByName(missing.select(*df.columns))
    if xy_coords is not None:
        if res is None:
            raise ValueError("xy_coords needs an output grid (res=…)")
        if xy_coords not in ("topleft", "center"):
            raise ValueError(f"xy_coords {xy_coords!r}: 'topleft' or 'center'")
        off = 0.5 if xy_coords == "center" else 0.0
        df = df.withColumn(
            "x_coord", F.lit(gxmin) + (F.col("x_idx") + F.lit(off)) * F.lit(res)
        ).withColumn(
            "y_coord", F.lit(gymax) - (F.col("y_idx") + F.lit(off)) * F.lit(res)
        )
    if dtype is not None:
        df = df.withColumn("value",
                           F.col("value").cast(_DTYPE_MAP.get(dtype, dtype)))
    return df
