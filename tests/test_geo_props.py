"""Property-style tests for the geo kernels: mercator reprojection
goldens + roundtrip, cell-hierarchy identities on seeded random points."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from zen3geo_spark.functions.geo import (
    cell_encode, cell_iy_ix, cell_neighbors, cell_parent, mercator_inv_lat,
    mercator_inv_lon, mercator_x, mercator_y, micro_from_str,
)


def _random_points(spark, n=20000, seed=7):
    rng = np.random.RandomState(seed)
    lat = rng.randint(-90_000_000, 90_000_001, size=n).astype("int64")
    lon = rng.randint(-180_000_000, 180_000_001, size=n).astype("int64")
    return spark.createDataFrame(
        [(int(a), int(o)) for a, o in zip(lat, lon)], "lat_us long, lon_us long")


def test_mercator_forward_goldens(spark):
    df = spark.createDataFrame(
        [(0.0, 0.0), (180.0, 0.0), (-180.0, 0.0), (0.0, 85.051128779806)],
        "lon double, lat double")
    r = df.select(
        mercator_x(F.col("lon")).alias("x"), mercator_y(F.col("lat")).alias("y")
    ).collect()
    assert r[0]["x"] == pytest.approx(0.0, abs=1e-9)
    assert r[0]["y"] == pytest.approx(0.0, abs=1e-6)
    # the web-mercator world half-width: pi * R
    assert r[1]["x"] == pytest.approx(20037508.342789244, rel=1e-12)
    assert r[2]["x"] == pytest.approx(-20037508.342789244, rel=1e-12)
    # the square-world latitude maps to the same magnitude
    assert r[3]["y"] == pytest.approx(20037508.34, abs=1.0)


def test_mercator_roundtrip(spark):
    pts = _random_points(spark, 5000).filter(F.abs(F.col("lat_us")) <= 85_000_000)
    back = pts.select(
        (F.col("lon_us") / 1e6).alias("lon"), (F.col("lat_us") / 1e6).alias("lat"),
        mercator_inv_lon(mercator_x(F.col("lon_us") / 1e6)).alias("lon2"),
        mercator_inv_lat(mercator_y(F.col("lat_us") / 1e6)).alias("lat2"),
    )
    bad = back.filter(
        (F.abs(F.col("lon") - F.col("lon2")) > 1e-9)
        | (F.abs(F.col("lat") - F.col("lat2")) > 1e-9)
    ).count()
    assert bad == 0


def test_cell_parent_equals_direct_encode(spark):
    """parent(encode(res 12), 12, 6) == encode(res 6) for all points —
    the floor-nesting identity the rollup oracle relies on."""
    pts = _random_points(spark)
    bad = pts.filter(
        cell_parent(cell_encode(F.col("lat_us"), F.col("lon_us"), 12), 12, 6)
        != cell_encode(F.col("lat_us"), F.col("lon_us"), 6)
    ).count()
    assert bad == 0


def test_cell_encode_bounds(spark):
    """Every res-r cell id lies in [4^r, 4^r + 2^r * 2^r)."""
    for res in (1, 4, 9):
        pts = _random_points(spark, 5000, seed=res)
        base, n = 1 << (2 * res), 1 << res
        c = pts.select(cell_encode(F.col("lat_us"), F.col("lon_us"), res).alias("c"))
        agg = c.agg(F.min("c").alias("lo"), F.max("c").alias("hi")).first()
        assert agg["lo"] >= base
        assert agg["hi"] < base + n * n


def test_cell_neighbors_contain_self_and_same_res(spark):
    res = 5
    pts = _random_points(spark, 3000, seed=3)
    d = pts.select(cell_encode(F.col("lat_us"), F.col("lon_us"), res).alias("c")).distinct()
    d = d.select("c", F.explode(cell_neighbors(F.col("c"), res)).alias("nb"))
    base, n = 1 << (2 * res), 1 << res
    # all neighbors valid cells at the same res
    assert d.filter((F.col("nb") < base) | (F.col("nb") >= base + n * n)).count() == 0
    # self always among neighbors
    per = d.groupBy("c").agg(F.max((F.col("nb") == F.col("c")).cast("int")).alias("has_self"))
    assert per.filter(F.col("has_self") == 0).count() == 0
    # ring size: 9 interior; 6 at the lat clamp edges (lon wraps, lat
    # clamps and array_distinct merges the clamped duplicates)
    sizes = d.groupBy("c").count().agg(F.min("count").alias("lo"), F.max("count").alias("hi")).first()
    assert sizes["lo"] >= 6 and sizes["hi"] <= 9


def test_micro_from_str_matches_python_parse(spark):
    rng = np.random.RandomState(11)
    vals = rng.randint(-180_000_000, 180_000_001, size=4000)
    strs = [f"{'-' if v < 0 else ''}{abs(v) // 1000000}.{abs(v) % 1000000:06d}"
            for v in vals]
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    got = [r["m"] for r in df.select(micro_from_str(F.col("s")).alias("m")).collect()]
    assert got == [int(v) for v in vals]


def test_polygon_measures_goldens(spark):
    from zen3geo_spark.functions.geo import polygon_measures

    polys = spark.sql(
        "select * from values "
        "(0L, array(array(named_struct('x', 0.0d, 'y', 0.0d),"
        " named_struct('x', 20000000.0d, 'y', 0.0d),"
        " named_struct('x', 10000000.0d, 'y', 15000000.0d)))), "
        "(1L, array(array(named_struct('x', 0.0d, 'y', 0.0d),"
        " named_struct('x', 0.0d, 'y', 10.0d),"
        " named_struct('x', 10.0d, 'y', 10.0d),"
        " named_struct('x', 10.0d, 'y', 0.0d)))) "
        "as t(geom_id, parts)")
    out = {r["geom_id"]: r for r in polygon_measures(polys).collect()}
    # triangle: base 2e7, height 1.5e7 -> area 1.5e14, area2 exact 3e14
    t = out[0]
    assert t["area2_us"] == 300_000_000_000_000
    assert t["ccw"] == 1
    assert t["centroid_x_us"] == 10_000_000.0
    assert t["centroid_y_us"] == 5_000_000.0
    import math
    exp_per = 20_000_000 + 2 * math.sqrt(1e14 + 2.25e14)
    assert abs(t["perimeter_us"] - exp_per) < 1e-3
    # 10x10 square traversed CLOCKWISE: area2 = 200, ccw = 0
    s = out[1]
    assert s["area2_us"] == 200 and s["ccw"] == 0
    assert (s["centroid_x_us"], s["centroid_y_us"]) == (5.0, 5.0)
    assert s["perimeter_us"] == 40.0


def test_split_antimeridian_bbox():
    from zen3geo_spark.functions.geo import split_antimeridian_bbox

    # non-wrapping interval passes through untouched
    assert split_antimeridian_bbox(-10, 20) == [(-10, 20)]
    # wrapping interval splits at the dateline, both halves non-wrapping
    parts = split_antimeridian_bbox(170_000_000, -170_000_000)
    assert parts == [(170_000_000, 180_000_000),
                     (-180_000_000, -170_000_000)]
    assert all(lo <= hi for lo, hi in parts)


def test_wrap_bbox_plus_complement_partitions_lat_band(spark):
    """The wrapped strip and its non-wrapped complement must exactly
    partition the lat band — the invariant a naive BETWEEN breaks."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    band = E._points_df(spark).filter(
        F.col("lat_us").between(-60_000_000, 60_000_000))
    n_band = band.count()
    n_wrap = (E.q_wrap_bbox_scan(spark, "unused")
              .agg(F.sum("n_pages")).collect()[0][0])
    n_complement = band.filter(
        (F.col("lon_us") > -170_000_000) & (F.col("lon_us") < 170_000_000)
    ).count()
    assert n_wrap + n_complement == n_band
    assert n_wrap > 0


def test_quadkey_bijective_with_cell_and_prefix_property(spark):
    """Quadkeys must map 1:1 to res-6 cells, and the 4-digit prefix must
    map 1:1 to the res-4 parent cell (the prefix property that makes
    quadkeys the string twin of the integer hierarchy)."""
    import __spark_entry__ as E
    from pyspark.sql import functions as F
    from zen3geo_spark.functions.geo import cell_encode

    res = 6
    pts = E._points_df(spark)
    iy = F.expr("((lat_us + 90000000) * 64) div 180000001").cast("long")
    ix = F.expr("((lon_us + 180000000) * 64) div 360000001").cast("long")
    digits = []
    for z in range(res - 1, -1, -1):
        digits.append(((F.shiftright(iy, z).bitwiseAND(F.lit(1))) * 2
                       + F.shiftright(ix, z).bitwiseAND(F.lit(1)))
                      .cast("string"))
    df = pts.select(
        F.concat(*digits).alias("qk"),
        cell_encode(F.col("lat_us"), F.col("lon_us"), 6).alias("c6"),
        cell_encode(F.col("lat_us"), F.col("lon_us"), 4).alias("c4"))
    # 1:1 at res 6
    assert df.select("qk", "c6").distinct().count() == \
        df.select("qk").distinct().count() == \
        df.select("c6").distinct().count()
    # prefix = parent
    pre = df.select(F.substring("qk", 1, 4).alias("p"), "c4").distinct()
    assert pre.count() == pre.select("p").distinct().count() \
        == pre.select("c4").distinct().count()


def test_grid_forms_agree_in_and_out_of_range(spark, grid_edge_rows):
    """The Column, Spark SQL, DuckDB and Python forms of the grid give
    the same cell, parent and Hilbert ids on every row, in range or not.
    All of them truncate: the Column path used to floor, so at res 4
    lat -90.000001 was cell 247 there and 263 in both SQL forms."""
    import duckdb
    import pandas as pd

    from zen3geo_spark.functions.geo import (
        MAX_RES, cell_id_sql, cell_parent_sql, point_iy_ix, point_iy_ix_py,
    )
    from zen3geo_spark.functions.hilbert import hilbert_cte_sql, hilbert_encode

    rng = np.random.RandomState(11)
    rows = list(zip(rng.randint(-90_000_000, 90_000_001, 200).tolist(),
                    rng.randint(-180_000_000, 180_000_001, 200).tolist()))
    rows += grid_edge_rows
    pdf = pd.DataFrame([(i, la, lo) for i, (la, lo) in enumerate(rows)],
                       columns=["point_id", "lat_us", "lon_us"])
    df = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("pts", pdf)
    for res, pres in ((4, 2), (MAX_RES, 9)):
        cell = cell_encode("lat_us", "lon_us", res)
        iy, ix = point_iy_ix("lat_us", "lon_us", res)
        spark_sql = cell_id_sql("lat_us", "lon_us", res, "spark")
        got = df.select(
            "point_id", cell.alias("c"), F.expr(spark_sql).alias("c_sql"),
            cell_parent(cell, res, pres).alias("p"),
            F.expr(cell_parent_sql(spark_sql, res, pres, "spark")).alias("p_sql"),
            hilbert_encode("lat_us", "lon_us", res).alias("h"),
            iy.alias("iy"), ix.alias("ix"),
        ).orderBy("point_id").collect()
        duck_cell = cell_id_sql("p.lat_us", "p.lon_us", res, "duckdb")
        duck = con.sql(
            f"with recursive "
            f"{hilbert_cte_sql('pts', 'point_id', 'lat_us', 'lon_us', res)}"
            f"select p.point_id, {duck_cell},"
            f" {cell_parent_sql(duck_cell, res, pres, 'duckdb')}, h.hd"
            f" from pts p join hcells h on h.point_id = p.point_id"
            f" order by p.point_id").fetchall()
        assert len(got) == len(duck) == len(rows)
        for r, (pid, c, p, hd) in zip(got, duck):
            assert r.point_id == pid
            assert (r.c, r.p, r.h) == (r.c_sql, r.p_sql, hd) == (c, p, hd), rows[pid]
            assert (r.iy, r.ix) == point_iy_ix_py(*rows[pid], res), rows[pid]
        if res == 4:
            cells = {rows[r.point_id]: r.c for r in got}
            assert cells[(-90_000_001, 0)] == 263
            assert cells[(0, -190_000_000)] == 368
