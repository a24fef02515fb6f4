"""Z-order cell index: encode parity, bbox cover correctness, plan shape."""
import random

import pytest
from pyspark.sql import functions as F

from zen3geo_spark.functions.geo import point_iy_ix_py
from zen3geo_spark.functions.zorder import (
    MAX_ZRES,
    _morton_py,
    with_zorder,
    z_range_predicate,
    z_ranges_for_bbox,
    zorder_parent,
    zorder_sql,
)


def _interleave_naive(iy: int, ix: int) -> int:
    z = 0
    for b in range(MAX_ZRES):
        z |= ((ix >> b) & 1) << (2 * b)
        z |= ((iy >> b) & 1) << (2 * b + 1)
    return z


def test_morton_matches_naive_interleave():
    rng = random.Random(7)
    for _ in range(500):
        iy = rng.randrange(1 << MAX_ZRES)
        ix = rng.randrange(1 << MAX_ZRES)
        assert _morton_py(iy, ix, MAX_ZRES) == _interleave_naive(iy, ix)


def test_spark_encode_matches_python_kernel(spark):
    rows = [(i, rng_lat, rng_lon)
            for i, (rng_lat, rng_lon) in enumerate(
                (random.Random(i).randint(-90_000_000, 90_000_000),
                 random.Random(i + 999).randint(-180_000_000, 180_000_000))
                for i in range(200))]
    df = spark.createDataFrame(rows, "id long, lat_us long, lon_us long")
    got = {r["id"]: r["z"] for r in
           with_zorder(df, "lat_us", "lon_us", 12).collect()}
    for i, lat, lon in rows:
        iy = ((lat + 90_000_000) << 12) // 180_000_001
        ix = ((lon + 180_000_000) << 12) // 360_000_001
        assert got[i] == _morton_py(iy, ix, 12), (i, lat, lon)


def test_spark_sql_twin_matches_column(spark, grid_edge_rows):
    df = spark.range(300).selectExpr(
        "cast(id * 1234567 % 180000001 - 90000000 as long) as lat_us",
        "cast(id * 7654321 % 360000001 - 180000000 as long) as lon_us"
    ).union(spark.createDataFrame(grid_edge_rows, "lat_us long, lon_us long"))
    expr = zorder_sql("lat_us", "lon_us", 12, "spark")
    n_diff = with_zorder(df, "lat_us", "lon_us", 12).select(
        (F.expr(expr) != F.col("z")).alias("d")
    ).filter("d").count()
    assert n_diff == 0


def test_parent_prefix_containment(spark):
    """Every child id must land inside its parent's contiguous interval."""
    df = spark.range(500).selectExpr(
        "cast(id * 999983 % 180000001 - 90000000 as long) as lat_us",
        "cast(id * 31337 % 360000001 - 180000000 as long) as lon_us")
    bad = with_zorder(df, "lat_us", "lon_us", 14).select(
        "z", zorder_parent("z", 14, 8).alias("p")).filter(
        (F.col("z") < F.col("p") * (1 << 12))
        | (F.col("z") >= (F.col("p") + 1) * (1 << 12))).count()
    assert bad == 0


@pytest.mark.parametrize("seed", [1, 2, 3, 4, 5])
def test_bbox_cover_exact_vs_bruteforce(seed):
    """At small res the quadtree cover must be a superset of the bbox's
    cells and (with enough budget) exactly their union."""
    res = 5
    rng = random.Random(seed)
    lats = sorted(rng.randint(-90_000_000, 90_000_000) for _ in range(2))
    lons = sorted(rng.randint(-180_000_000, 180_000_000) for _ in range(2))
    ranges = z_ranges_for_bbox(lats[0], lons[0], lats[1], lons[1], res,
                               max_ranges=4096)
    iy0 = ((lats[0] + 90_000_000) << res) // 180_000_001
    iy1 = ((lats[1] + 90_000_000) << res) // 180_000_001
    ix0 = ((lons[0] + 180_000_000) << res) // 360_000_001
    ix1 = ((lons[1] + 180_000_000) << res) // 360_000_001
    want = {_morton_py(iy, ix, res)
            for iy in range(iy0, iy1 + 1) for ix in range(ix0, ix1 + 1)}
    got = {z for lo, hi in ranges for z in range(lo, hi + 1)}
    assert got == want


def test_bbox_cover_budget_is_superset():
    """With a tight budget the cover is loose but never misses a cell."""
    res = 8
    ranges = z_ranges_for_bbox(-5_000_000, -5_000_000, 40_000_000, 60_000_000,
                               res, max_ranges=8)
    assert len(ranges) <= 8
    iy0 = ((-5_000_000 + 90_000_000) << res) // 180_000_001
    iy1 = ((40_000_000 + 90_000_000) << res) // 180_000_001
    ix0 = ((-5_000_000 + 180_000_000) << res) // 360_000_001
    ix1 = ((60_000_000 + 180_000_000) << res) // 360_000_001
    for iy in range(iy0, iy1 + 1):
        for ix in range(ix0, ix1 + 1):
            z = _morton_py(iy, ix, res)
            assert any(lo <= z <= hi for lo, hi in ranges), (iy, ix)


def test_range_predicate_pushes_to_parquet_scan(spark, tmp_path):
    """The 100-TB claim: BETWEEN conjuncts on a stored z column reach the
    parquet scan as PushedFilters (row-group pruning at scale)."""
    path = str(tmp_path / "ztab")
    spark.range(10_000).selectExpr(
        "id", "cast(id * 2654435761 % 16777216 as long) as z"
    ).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    ranges = [(1000, 2000), (500_000, 600_000)]
    plan = (df.filter(z_range_predicate("z", ranges))
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(z,1000)" in plan or "z >= 1000" in plan


def test_encode_plan_is_pure_codegen(spark):
    """No Python eval nodes anywhere in the encode+rollup plan."""
    df = spark.range(1000).selectExpr(
        "cast(id * 1234567 % 180000001 - 90000000 as long) as lat_us",
        "cast(id * 7654321 % 360000001 - 180000000 as long) as lon_us")
    out = (with_zorder(df, "lat_us", "lon_us", 12)
           .groupBy(zorder_parent(F.col("z"), 12, 6).alias("z6"))
           .count())
    plan = out._jdf.queryExecution().executedPlan().toString()
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                "FlatMapGroupsInPandas"):
        assert bad not in plan


@pytest.mark.parametrize("res", [25, MAX_ZRES])
def test_encode_exact_at_max_res(spark, res):
    """res >= 25 pushes the grid-index numerator past 2^53, where a
    double division is off by one; the Spark path's integer divide must
    stay bit-exact vs pure Python."""
    rng = random.Random(42)
    rows = [(i,
             rng.randint(-90_000_000, 90_000_000),
             rng.randint(-180_000_000, 180_000_000)) for i in range(3000)]
    want = {i: _morton_py(*point_iy_ix_py(la, lo, res), res)
            for i, la, lo in rows}
    df = spark.createDataFrame(rows, "id long, lat_us long, lon_us long")
    got = {r["id"]: r["z"]
           for r in with_zorder(df, "lat_us", "lon_us", res).collect()}
    assert got == want


def test_bbox_cover_never_exceeds_budget():
    """Docstring contract: len(ranges) <= max_ranges, even pre-merge-tight
    covers (the split used to overshoot by up to 2)."""
    rng = random.Random(3)
    for _ in range(200):
        lats = sorted(rng.randint(-90_000_000, 90_000_000) for _ in range(2))
        lons = sorted(rng.randint(-180_000_000, 180_000_000) for _ in range(2))
        budget = rng.choice([4, 5, 8, 13])
        ranges = z_ranges_for_bbox(lats[0], lons[0], lats[1], lons[1],
                                   res=10, max_ranges=budget)
        assert len(ranges) <= budget


def test_optimize_zorder_prunes_files(spark, tmp_path):
    """After optimize_zorder, a bbox range scan touches a strict subset
    of the files (file-level footer pruning) and returns exactly the
    direct-filter rows."""
    from zen3geo_spark.functions.zorder import files_touched, optimize_zorder

    res = 10
    df = spark.range(20_000).selectExpr(
        "id as point_id",
        "cast((id * 48271 + 11) % 180000001 - 90000000 as long) as lat_us",
        "cast((id * 16807 + 7) % 360000001 - 180000000 as long) as lon_us")
    tab = optimize_zorder(df, str(tmp_path / "zt"), res=res, n_files=16)
    bbox = (-20_000_000, -40_000_000, 5_000_000, -5_000_000)
    ranges = z_ranges_for_bbox(*bbox, res)
    scan = tab.filter(z_range_predicate("z", ranges)).filter(
        (F.col("lat_us") >= bbox[0]) & (F.col("lat_us") <= bbox[2])
        & (F.col("lon_us") >= bbox[1]) & (F.col("lon_us") <= bbox[3]))
    direct = df.filter(
        (F.col("lat_us") >= bbox[0]) & (F.col("lat_us") <= bbox[2])
        & (F.col("lon_us") >= bbox[1]) & (F.col("lon_us") <= bbox[3]))
    got = sorted(r["point_id"] for r in scan.collect())
    want = sorted(r["point_id"] for r in direct.collect())
    assert got == want and len(got) > 0
    total = files_touched(tab)
    touched = files_touched(tab.filter(z_range_predicate("z", ranges)))
    assert touched < total, (touched, total)


def test_bbox_cover_budget_property_adversarial():
    """Hypothesis property at adversarial bboxes: the contract is
    len(ranges) <= max_ranges for ANY bbox/budget (incl. budget 1 and
    degenerate/point bboxes), and clamping must never lose coverage —
    every z inside the bbox stays inside some range."""
    from hypothesis import given, settings, strategies as st

    lat = st.integers(min_value=-90_000_000, max_value=90_000_000)
    lon = st.integers(min_value=-180_000_000, max_value=180_000_000)

    @settings(max_examples=300, deadline=None)
    @given(lat, lat, lon, lon, st.integers(min_value=1, max_value=16),
           st.integers(min_value=1, max_value=12), st.randoms())
    def prop(lat_a, lat_b, lon_a, lon_b, budget, res, rnd):
        lat0, lat1 = sorted((lat_a, lat_b))
        lon0, lon1 = sorted((lon_a, lon_b))
        ranges = z_ranges_for_bbox(lat0, lon0, lat1, lon1, res,
                                   max_ranges=budget)
        assert len(ranges) <= budget
        assert all(lo <= hi for lo, hi in ranges)
        # coverage: sampled in-bbox points (corners + random interior)
        pts = [(lat0, lon0), (lat0, lon1), (lat1, lon0), (lat1, lon1)]
        pts += [(rnd.randint(lat0, lat1), rnd.randint(lon0, lon1))
                for _ in range(8)]
        for la, lo_ in pts:
            z = _morton_py(*point_iy_ix_py(la, lo_, res), res)
            assert any(a <= z <= b for a, b in ranges)

    prop()
