"""Canvas/grid-spec derivation: XarrayCanvas for Spark.

Reference semantics (/root/reference/zen3geo/datapipes/datashader.py:352-368):
canvas = (plot_width=len(x), plot_height=len(y), x_range=rio.bounds()[0::2],
y_range=rio.bounds()[1::2], crs carried over) — rio.bounds() are PIXEL-EDGE
bounds (center extremes ± half pixel). Golden: a 12×8 Dataset yields
plot_height=12, plot_width=8 (tests/test_datapipes_datashader.py:48-74).

Spark shape: a pure aggregation over the long-form grid — no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def canvas_from_grid(grid: DataFrame) -> DataFrame:
    """Derive one canvas row per scene from long-form pixels with
    pixel-center coordinate columns (x, y)."""
    agg = grid.groupBy(F.col("scene_id").alias("canvas_id")).agg(
        F.countDistinct("x").alias("width"),
        F.countDistinct("y").alias("height"),
        F.min("x").alias("_cxmin"), F.max("x").alias("_cxmax"),
        F.min("y").alias("_cymin"), F.max("y").alias("_cymax"),
        F.first("crs").alias("crs"),
    )
    # pixel size from center spacing; single-pixel dims fall back to 1.0
    resx = F.when(F.col("width") > 1,
                  (F.col("_cxmax") - F.col("_cxmin")) / (F.col("width") - 1)).otherwise(F.lit(1.0))
    resy = F.when(F.col("height") > 1,
                  (F.col("_cymax") - F.col("_cymin")) / (F.col("height") - 1)).otherwise(F.lit(1.0))
    return agg.select(
        "canvas_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        (F.col("_cxmin") - resx / 2).alias("xmin"),
        (F.col("_cymin") - resy / 2).alias("ymin"),
        (F.col("_cxmax") + resx / 2).alias("xmax"),
        (F.col("_cymax") + resy / 2).alias("ymax"),
        "crs",
    )
