"""Chip-slicing goldens from the reference
(/root/reference/zen3geo/tests/test_datapipes_xbatcher.py and
docs/chipping.md:137-184)."""

import pytest
from pyspark.sql import functions as F

from zen3geo_spark.operators.chipper import assign_chips, chip_grid, chip_stats
from zen3geo_spark.sources.fixtures import scenes_meta


def _scene_pixels(spark, scene_id, n_band, n_y, n_x, value):
    return (
        spark.range(n_band)
        .select(F.lit(scene_id).cast("long").alias("scene_id"), F.col("id").alias("band"))
        .select("*", F.explode(F.sequence(F.lit(0), F.lit(n_y - 1))).alias("y_idx"))
        .select("*", F.explode(F.sequence(F.lit(0), F.lit(n_x - 1))).alias("x_idx"))
        .withColumn("value", F.lit(float(value)))
    )


def test_four_chips_golden(spark):
    """(3,128,128) window {y:64,x:64} → exactly 4 chips, each (3,64,64)
    summing 3*64*64 (test_datapipes_xbatcher.py:31-36)."""
    meta = scenes_meta(spark, [(0, 3, 128, 128)])
    grid = chip_grid(meta, 64, 64)
    assert grid.count() == 4
    px = _scene_pixels(spark, 0, 3, 128, 128, 1.0)
    chipped = assign_chips(px, meta, 64, 64)
    stats = chip_stats(chipped).collect()
    assert len(stats) == 4
    for r in stats:
        assert r["n_px"] == 3 * 64 * 64
        assert r["sum_val"] == 3 * 64 * 64


def test_dataset_variant_golden(spark):
    """32x32 of 15s, window 16 → 4 chips summing 15*16*16
    (test_datapipes_xbatcher.py:59-64)."""
    meta = scenes_meta(spark, [(0, 1, 32, 32)])
    px = _scene_pixels(spark, 0, 1, 32, 32, 15.0)
    stats = chip_stats(assign_chips(px, meta, 16, 16)).collect()
    assert len(stats) == 4
    for r in stats:
        assert r["sum_val"] == 15 * 16 * 16


def test_overlap_goldens_12_and_30(spark):
    """Two (1024,1536) scenes: window 512 → 12 chips; overlap 256 → 30
    (docs/chipping.md:137-184)."""
    meta = scenes_meta(spark, [(0, 1, 1024, 1536), (1, 1, 1024, 1536)])
    assert chip_grid(meta, 512, 512).count() == 12
    assert chip_grid(meta, 512, 512, 256, 256).count() == 30


def test_trailing_partial_windows_dropped(spark):
    """xbatcher drops trailing partials: 100x100 window 64 → 1 chip; pixels
    beyond the last full window get no chip assignment."""
    meta = scenes_meta(spark, [(0, 1, 100, 100)])
    assert chip_grid(meta, 64, 64).count() == 1
    px = _scene_pixels(spark, 0, 1, 100, 100, 1.0)
    chipped = assign_chips(px, meta, 64, 64)
    assert chipped.count() == 64 * 64
    assert chipped.agg(F.max("in_chip_y")).collect()[0][0] == 63


def test_overlap_assignment_matches_grid(spark):
    """Every chip from chip_grid receives exactly window_y*window_x pixels
    under overlapping assignment (64x64 scene, window 32, overlap 16)."""
    meta = scenes_meta(spark, [(0, 1, 64, 64)])
    grid_n = chip_grid(meta, 32, 32, 16, 16).count()
    px = _scene_pixels(spark, 0, 1, 64, 64, 1.0)
    stats = chip_stats(assign_chips(px, meta, 32, 32, 16, 16)).collect()
    assert len(stats) == grid_n == 9
    for r in stats:
        assert r["n_px"] == 32 * 32


def test_slice_boundaries_exact(spark):
    """Slice boundaries: chip (cy,cx) covers rows [cy*64,(cy+1)*64) —
    in-chip indices are exact offsets (xbatcher.py:105-110 nested order)."""
    meta = scenes_meta(spark, [(0, 1, 128, 128)])
    px = _scene_pixels(spark, 0, 1, 128, 128, 1.0)
    chipped = assign_chips(px, meta, 64, 64)
    r = (
        chipped.filter((F.col("y_idx") == 70) & (F.col("x_idx") == 5))
        .select("chip_y", "chip_x", "chip_id", "in_chip_y", "in_chip_x")
        .collect()[0]
    )
    assert (r["chip_y"], r["chip_x"], r["chip_id"]) == (1, 0, 2)
    assert (r["in_chip_y"], r["in_chip_x"]) == (6, 5)


def test_chip_grid_nd_matches_2d_and_band_axis(spark):
    """N-dim chipper: y/x-only windows reproduce the 2D grid; adding a
    band window multiplies chips along the band axis (xbatcher's
    arbitrary input_dims, reference xbatcher.py:105-110)."""
    from zen3geo_spark.operators.chipper import chip_grid, chip_grid_nd

    meta = scenes_meta(spark, [(0, 3, 128, 128)])
    g2 = sorted((r["chip_id"], r["chip_y"], r["chip_x"], r["y0"], r["x0"])
                for r in chip_grid(meta, 64, 64).collect())
    gnd = sorted((r["chip_id"], r["chip_y"], r["chip_x"], r["y0"], r["x0"])
                 for r in chip_grid_nd(meta, {"y": 64, "x": 64}).collect())
    assert g2 == gnd and len(gnd) == 4  # the reference's 4-chip golden

    banded = chip_grid_nd(meta, {"band": 1, "y": 64, "x": 64})
    rows = banded.collect()
    assert len(rows) == 3 * 2 * 2
    assert {(r["chip_band"], r["band0"]) for r in rows} == {(0, 0), (1, 1), (2, 2)}
    # row-major chip_id over (band, y, x)
    ids = sorted(r["chip_id"] for r in rows)
    assert ids == list(range(12))


def test_chip_grid_nd_overlap_and_drop(spark):
    from zen3geo_spark.operators.chipper import chip_grid_nd

    meta = scenes_meta(spark, [(0, 3, 1024, 1536)])
    g = chip_grid_nd(meta, {"band": 2, "y": 512, "x": 512},
                     overlaps={"y": 256, "x": 256}).collect()
    # band: floor((3-2)/2)+1 = 1; y: floor((1024-512)/256)+1 = 3; x: 5
    assert len(g) == 1 * 3 * 5

    # the 2-D path shares the N-D overlap check: a zero stride fails at
    # call time, not as DIVIDE_BY_ZERO inside the first action
    px = _scene_pixels(spark, 0, 1, 64, 64, 1.0)
    with pytest.raises(ValueError):
        assign_chips(px, meta, 64, 64, 64, 0)


def test_to_graph_returns_plan(spark):
    from zen3geo_spark.plans.graph import to_graph, to_graph_logical

    df = spark.range(10).selectExpr("id * 2 as v").filter("v > 5")
    g = to_graph(df)
    assert "Range" in g and "Filter" in g
    assert "Range" in to_graph_logical(df)


def test_assign_chips_nd_matches_2d_and_band_window(spark):
    """N-dim assignment equals the 2D path for y/x windows and slices a
    band axis correctly (each pixel of band b lands in band-chip b//w)."""
    from zen3geo_spark.operators.chipper import assign_chips, assign_chips_nd

    meta = scenes_meta(spark, [(0, 4, 64, 64)])
    px = spark.range(4 * 64 * 64).selectExpr(
        "cast(id % 1 as long) as scene_id",
        "cast(id div 4096 as int) as band_idx",
        "cast((id div 64) % 64 as int) as y_idx",
        "cast(id % 64 as int) as x_idx",
        "1.0 as value",
    )
    flat2d = sorted(
        (r["y_idx"], r["x_idx"], r["chip_id"])
        for r in assign_chips(px.filter("band_idx = 0"), meta, 32, 32).collect())
    flatnd = sorted(
        (r["y_idx"], r["x_idx"], r["chip_id"])
        for r in assign_chips_nd(px.filter("band_idx = 0"), meta,
                                 {"y": 32, "x": 32}).collect())
    assert flat2d == flatnd

    banded = assign_chips_nd(px, meta, {"band": 2, "y": 32, "x": 32})
    rows = banded.collect()
    assert len(rows) == 4 * 64 * 64  # every pixel assigned exactly once
    for r in rows[:50]:
        assert r["chip_band"] == r["band_idx"] // 2
        assert r["in_chip_band"] == r["band_idx"] % 2
    # chip population: 2*2*2 = 8 chips x 2*32*32 px
    sizes = {r["chip_id"]: r["count"] for r in banded.groupBy("chip_id").count().collect()}
    assert len(sizes) == 8 and all(v == 2 * 32 * 32 for v in sizes.values())
