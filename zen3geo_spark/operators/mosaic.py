"""First-valid-pixel mosaic: StackSTACMosaicker for Spark.

Reference semantics (/root/reference/zen3geo/datapipes/stackstac.py:16-103):
flatten a dimension (time/tile) by picking the FIRST valid pixel along it;
``nodata`` marks invalid. Golden: (3,1,32,32) of ones → (1,32,32) summing
32·32 (tests/test_datapipes_stackstac.py:15-26).

Spark shape: one hash aggregate — ``min_by(value, order)`` over
validity-filtered rows. Partial aggregation (map-side combine) makes this
shuffle only one row per output pixel regardless of stack depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mosaic_first_valid(cube: DataFrame, order_col: str = "tile",
                       nodata: float | None = None) -> DataFrame:
    """Pick the first valid value along ``order_col`` per pixel."""
    valid = cube
    if nodata is not None:
        valid = cube.filter(F.col("value") != F.lit(nodata))
    else:
        valid = cube.filter(F.col("value").isNotNull())
    return valid.groupBy("band", "y_idx", "x_idx").agg(
        F.min_by("value", F.col(order_col)).alias("value"),
        F.min(order_col).alias("src"),
    )
