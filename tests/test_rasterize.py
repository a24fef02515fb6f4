"""Rasterizer goldens from the reference's own tests
(/root/reference/zen3geo/tests/test_datapipes_datashader.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from zen3geo_spark.operators.canvas import canvas_from_grid
from zen3geo_spark.operators.rasterize import pixel_coords, rasterize
from zen3geo_spark.sources import fixtures


@pytest.mark.parametrize(
    ("geom_type", "sum_val"),
    [("multipoint", 3), ("linestring", 13), ("polygon", 15)],
)
def test_rasterize_golden_sums(spark, geom_type, sum_val):
    """Point=3 / Line=13 / Polygon=15 px on the 14x10 canvas
    (test_datapipes_datashader.py:77-104); two canvases like the reference's
    broadcast-1 contract — each must burn the same sum."""
    canvas = fixtures.canvas_rasterize(spark, n=2)
    geoms = fixtures.geometries_datashader(spark).filter(
        F.col("geom_type") == geom_type
    )
    raster = rasterize(canvas, geoms)
    per_canvas = (
        raster.groupBy("canvas_id").agg(F.sum("value").alias("s")).collect()
    )
    assert len(per_canvas) == 2
    for r in per_canvas:
        assert r["s"] == sum_val


def test_rasterize_shape_and_affine(spark):
    """Output raster lives on a (10,14) north-up grid: rows in [0,10),
    cols in [0,14), and pixel_coords has descending y (affine e = -0.5)."""
    canvas = fixtures.canvas_rasterize(spark, n=1)
    geoms = fixtures.geometries_datashader(spark).filter(
        F.col("geom_type") == "polygon"
    )
    r = pixel_coords(rasterize(canvas, geoms), canvas)
    rows = r.collect()
    assert all(0 <= x["row"] < 10 and 0 <= x["col"] < 14 for x in rows)
    # e = -0.5: y of row r is ymax - (r+0.5)*0.5
    for x in rows:
        assert x["y"] == pytest.approx(5.0 - (x["row"] + 0.5) * 0.5)
        assert x["x"] == pytest.approx(1.0 + (x["col"] + 0.5) * 0.5)


def test_rasterize_missing_canvas_crs(spark):
    canvas = fixtures.canvas_rasterize(spark, n=1, crs=None)
    geoms = fixtures.geometries_datashader(spark)
    with pytest.raises(AttributeError, match="Missing crs information for datashader.Canvas"):
        rasterize(canvas, geoms.filter(F.col("geom_type") == "multipoint"))


def test_rasterize_missing_vector_crs(spark):
    canvas = fixtures.canvas_rasterize(spark, n=1)
    geoms = fixtures.geometries_datashader(spark).withColumn(
        "crs", F.lit(None).cast("string")
    )
    with pytest.raises(AttributeError, match="Missing crs information for input"):
        rasterize(canvas, geoms.filter(F.col("geom_type") == "multipoint"))


def test_rasterize_unmatched_lengths(spark):
    """3 canvases vs 2 vector sets → ValueError (datashader.py:176-185)."""
    canvas = fixtures.canvas_rasterize(spark, n=3)
    geoms = fixtures.geometries_datashader(spark).filter(
        F.col("geom_type") == "multipoint"
    ).withColumn("vset_id", F.lit(0)).union(
        fixtures.geometries_datashader(spark).filter(
            F.col("geom_type") == "multipoint"
        ).withColumn("vset_id", F.lit(1))
    )
    with pytest.raises(ValueError, match="Unmatched lengths for the"):
        rasterize(canvas, geoms)


def test_rasterize_geometrycollection(spark):
    canvas = fixtures.canvas_rasterize(spark, n=1)
    geoms = fixtures.geometries_datashader(spark).withColumn(
        "geom_type", F.lit("geometrycollection")
    )
    with pytest.raises(NotImplementedError, match="Unsupported geometry type"):
        rasterize(canvas, geoms)


def test_rasterize_empty_vector(spark):
    canvas = fixtures.canvas_rasterize(spark, n=1)
    geoms = fixtures.geometries_datashader(spark).filter(F.col("geom_id") > 99)
    with pytest.raises(ValueError, match="Cannot infer spatialpandas geometry type"):
        rasterize(canvas, geoms)


def test_rasterize_pairs_vector_sets_with_their_canvases(spark):
    """Two canvases, two vector sets: each set burns only onto its own
    canvas (vset_id == canvas_id), not every geometry onto every canvas."""
    canvas = fixtures.canvas_rasterize(spark, n=2)
    base = fixtures.geometries_datashader(spark)
    poly = base.filter(F.col("geom_type") == "polygon").withColumn("vset_id", F.lit(0))
    line = base.filter(F.col("geom_type") == "linestring")
    # vector set 1 holds the line's vertices as a polygon (a different burn)
    other = line.withColumn("geom_type", F.lit("polygon")).withColumn("vset_id", F.lit(1))

    def pixels(df):
        return sorted((r["row"], r["col"]) for r in df.collect())

    burned = rasterize(canvas, poly.union(other))
    on0 = pixels(burned.filter(F.col("canvas_id") == 0))
    on1 = pixels(burned.filter(F.col("canvas_id") == 1))
    one = fixtures.canvas_rasterize(spark, n=1)
    assert len(on0) == 15  # the reference's Polygon=15 golden
    assert on0 == pixels(rasterize(one, poly.drop("vset_id")))
    assert on1 == pixels(rasterize(one, other.drop("vset_id")))
    assert on0 != on1


def test_validate_rasterize_inputs_is_one_spark_action(spark, monkeypatch):
    """The contract checks read one aggregate over both tables: one
    ``collect`` on valid inputs, and one before each contract error."""
    from zen3geo_spark.operators.rasterize import validate_rasterize_inputs

    calls = []
    frame = type(spark.range(1))  # the session's concrete DataFrame class
    collect = frame.collect

    def counted(self):
        calls.append(1)
        return collect(self)

    base = fixtures.geometries_datashader(spark)
    pts = base.filter(F.col("geom_type") == "multipoint")
    two_sets = pts.withColumn("vset_id", F.lit(0)).union(pts.withColumn("vset_id", F.lit(1)))
    bad = [
        (fixtures.canvas_rasterize(spark, n=3), two_sets, ValueError, "Unmatched lengths"),
        (fixtures.canvas_rasterize(spark, n=1, crs=None), pts, AttributeError,
         "datashader.Canvas"),
        (fixtures.canvas_rasterize(spark, n=1),
         pts.withColumn("crs", F.lit(None).cast("string")), AttributeError, "input geometries"),
        (fixtures.canvas_rasterize(spark, n=1),
         base.withColumn("geom_type", F.lit("geometrycollection")), NotImplementedError,
         "Unsupported geometry type: GeometryCollection"),
        (fixtures.canvas_rasterize(spark, n=1), base.filter(F.col("geom_id") > 99),
         ValueError, "Cannot infer spatialpandas geometry type"),
    ]
    canvas2 = fixtures.canvas_rasterize(spark, n=2)
    monkeypatch.setattr(frame, "collect", counted)
    assert validate_rasterize_inputs(canvas2, two_sets) == (2, 2, "point")
    assert len(calls) == 1
    for canvas, geoms, exc, msg in bad:
        calls.clear()
        with pytest.raises(exc, match=msg):
            validate_rasterize_inputs(canvas, geoms)
        assert len(calls) == 1


def test_rasterize_mixed_kinds_and_bad_aggs(spark):
    canvas = fixtures.canvas_rasterize(spark, n=1)
    base = fixtures.geometries_datashader(spark)
    with pytest.raises(NotImplementedError, match="Unsupported mixed geometry types"):
        rasterize(canvas, base)
    with pytest.raises(NotImplementedError, match="Unsupported geometry type: circularstring"):
        rasterize(canvas, base.withColumn("geom_type", F.lit("circularstring")))
    pts = base.filter(F.col("geom_type") == "multipoint")
    with pytest.raises(ValueError, match="requires value_col"):
        rasterize(canvas, pts, agg="mean")
    with pytest.raises(ValueError, match="unsupported point agg 'median'"):
        rasterize(canvas, pts, agg="median")


def test_rasterize_point_sum_without_value_col_counts(spark):
    """Every point carries value 1.0 when no value_col is given, so sum is
    count on the golden canvas (Point=3)."""
    canvas = fixtures.canvas_rasterize(spark, n=1)
    pts = fixtures.geometries_datashader(spark).filter(F.col("geom_type") == "multipoint")

    def burn(agg):
        return sorted(tuple(r) for r in rasterize(canvas, pts, agg=agg).collect())

    counted = burn("count")
    assert sum(r[3] for r in counted) == 3
    assert burn("sum") == counted


def _brute_force_polygon(width, height, xmin, ymin, xmax, ymax, x, y, ring_sizes):
    """Winding number of every pixel center in the polygon's bbox against
    every edge at once, a (rows, cols, edges) test: the reference for the
    row-scanline kernel, with the same expressions in the same order."""
    sx = width / (xmax - xmin)
    sy = height / (ymax - ymin)
    e0, e1, einc = [], [], []
    for ring in np.split(np.arange(len(x)), np.cumsum(ring_sizes)[:-1]):
        xc = (x[ring] - xmin) * sx - 0.5
        yc = (y[ring] - ymin) * sy - 0.5
        x0, y0, x1, y1 = xc, yc, np.roll(xc, -1), np.roll(yc, -1)
        up, dn = y1 > y0, y1 < y0
        for lo_x, lo_y, hi_x, hi_y, inc in ((x0[up], y0[up], x1[up], y1[up], 1),
                                            (x1[dn], y1[dn], x0[dn], y0[dn], -1)):
            e0 += list(zip(lo_x, lo_y))
            e1 += list(zip(hi_x, hi_y))
            einc += [inc] * len(lo_x)
    if not e0:
        return np.empty((0, 2), dtype=np.int64)
    e0, e1, einc = np.asarray(e0), np.asarray(e1), np.asarray(einc)

    def snap(v, vmin, vmax, n):
        return min(int(np.floor((v - vmin) / (vmax - vmin) * n)), n - 1)

    xi = np.arange(max(snap(max(x.min(), xmin), xmin, xmax, width), 0),
                   min(snap(min(x.max(), xmax), xmin, xmax, width) + 1, width))
    yi = np.arange(max(snap(max(y.min(), ymin), ymin, ymax, height), 0),
                   min(snap(min(y.max(), ymax), ymin, ymax, height) + 1, height))
    if len(xi) == 0 or len(yi) == 0:
        return np.empty((0, 2), dtype=np.int64)
    XI, YI = np.meshgrid(xi, yi)
    y0c, y1c = e0[:, 1][None, None, :], e1[:, 1][None, None, :]
    x0c, x1c = e0[:, 0][None, None, :], e1[:, 0][None, None, :]
    Y, X = YI[:, :, None], XI[:, :, None]
    covers = (y0c < Y) & (Y <= y1c)
    left = (X > x0c) & (X > x1c)
    cross = (x1c - x0c) * (Y - y0c) - (y1c - y0c) * (X - x0c)
    wn = ((covers & (left | (cross < 0))) * einc[None, None, :]).sum(axis=2)
    ys_in, xs_in = np.nonzero(wn != 0)
    return np.stack([XI[ys_in, xs_in], YI[ys_in, xs_in]], axis=1)


def _random_polygon(rng, canvas):
    """Seeded multi-ring polygon on or off ``canvas``: star rings with a
    reversed inner hole, scattered (self-crossing) rings, vertices snapped
    to a 0.1 or pixel-center lattice, forced horizontal edges."""
    width, height, xmin, ymin, xmax, ymax = canvas
    spanx, spany = xmax - xmin, ymax - ymin
    rings = []
    for _ in range(rng.integers(1, 4)):  # multipart: independent centers
        cx = rng.uniform(xmin - 0.3 * spanx, xmax + 0.3 * spanx)
        cy = rng.uniform(ymin - 0.3 * spany, ymax + 0.3 * spany)
        k = int(rng.integers(3, 14))
        if rng.random() < 0.6:
            ang = np.sort(rng.uniform(0, 2 * np.pi, k))
            rad = rng.uniform(0.05, 0.4, k)
            rings.append((cx + rad * spanx * np.cos(ang), cy + rad * spany * np.sin(ang)))
            if rng.random() < 0.4:  # hole, opposite orientation
                hole = 0.02 * np.array([spanx, spany])
                rings.append((cx + hole[0] * np.cos(ang[::-1]),
                              cy + hole[1] * np.sin(ang[::-1])))
        else:
            rings.append((cx + rng.uniform(-0.3, 0.3, k) * spanx,
                          cy + rng.uniform(-0.3, 0.3, k) * spany))
    x = np.concatenate([r[0] for r in rings])
    y = np.concatenate([r[1] for r in rings])
    u = rng.random()
    if u < 0.3:
        x, y = np.round(x * 10) / 10, np.round(y * 10) / 10
    elif u < 0.5:  # pixel centers: the lattice the hit test runs on
        px, py = spanx / width, spany / height
        x = xmin + (np.round((x - xmin) / px - 0.5) + 0.5) * px
        y = ymin + (np.round((y - ymin) / py - 0.5) + 0.5) * py
    if rng.random() < 0.3:
        i = int(rng.integers(0, len(x) - 1))
        y[i + 1] = y[i]
    return x, y, np.array([len(r[0]) for r in rings])


def test_polygon_scanline_kernel_matches_brute_force():
    """The row-scanline winding kernel returns exactly the brute-force
    (rows, cols, edges) pixels, in the same order, on seeded random
    polygons: holes, multipart, off-canvas parts, lattice-snapped
    vertices and horizontal edges."""
    from zen3geo_spark.operators.rasterize import _polygon_kernel

    rng = np.random.default_rng(20261019)
    canvases = [(14, 10, 1.0, 0.0, 8.0, 5.0), (37, 23, -1.0, -1.0, 13.0, 11.0),
                (96, 64, 0.0, 0.0, 96.0, 64.0)]
    burned = 0
    for i in range(600):
        canvas = canvases[i % len(canvases)]
        x, y, sizes = _random_polygon(rng, canvas)
        want = _brute_force_polygon(*canvas, x, y, sizes)
        got = _polygon_kernel(*canvas, x, y, sizes)
        assert got.dtype == want.dtype and np.array_equal(got, want), (i, canvas)
        burned += len(want) > 0
    assert 300 < burned < 600  # most polygons burn pixels, some lie off-canvas


def test_canvas_from_grid_golden(spark):
    """12x8 Dataset → plot_height=12 plot_width=8
    (test_datapipes_datashader.py:48-74): y linspace(6,0,12), x linspace(0,4,8)."""
    grid = (
        spark.range(12 * 8)
        .select(
            F.lit(0).alias("scene_id"),
            (F.col("id") % 8).alias("xi"),
            F.floor(F.col("id") / 8).alias("yi"),
        )
        .select(
            "scene_id",
            (F.lit(6.0) - F.col("yi") * (6.0 / 11)).alias("y"),
            (F.col("xi") * (4.0 / 7)).alias("x"),
            F.lit("OGC:CRS84").alias("crs"),
        )
    )
    c = canvas_from_grid(grid).collect()[0]
    assert c["height"] == 12
    assert c["width"] == 8
    assert c["crs"] == "OGC:CRS84"
    # pixel-edge bounds rule: center extremes ± half pixel
    assert c["xmin"] == pytest.approx(0 - (4.0 / 7) / 2)
    assert c["xmax"] == pytest.approx(4 + (4.0 / 7) / 2)


def test_spread_add_golden_and_clip(spark):
    """px=1 add-spread of two pixels: overlap cells sum, canvas edges
    clip (corner pixel spreads to 4 cells, not 9)."""
    from zen3geo_spark.operators.rasterize import spread

    img = spark.createDataFrame(
        [(0, 0, 2.0), (1, 2, 5.0)], "row int, col int, value double")
    out = {(r["row"], r["col"]): r["value"]
           for r in spread(img, width=4, height=4, px=1).collect()}
    # corner (0,0) contributes to its clipped 2x2; (1,2) to a full 3x3
    assert out[(0, 0)] == 2.0
    assert out[(0, 1)] == 7.0   # 2 (from 0,0) + 5 (from 1,2)
    assert out[(1, 1)] == 7.0
    assert out[(2, 3)] == 5.0
    assert (3, 3) not in out    # beyond both neighborhoods
    assert sum(v for (r, c), v in out.items()) == 2.0 * 4 + 5.0 * 9


def test_spread_max_and_px0_identity(spark):
    from zen3geo_spark.operators.rasterize import spread

    img = spark.createDataFrame(
        [(1, 1, 2.0), (1, 2, 5.0)], "row int, col int, value double")
    mx = {(r["row"], r["col"]): r["value"]
          for r in spread(img, width=4, height=4, px=1, how="max").collect()}
    assert mx[(1, 1)] == 5.0 and mx[(0, 0)] == 2.0
    ident = sorted((r["row"], r["col"], r["value"]) for r in
                   spread(img, width=4, height=4, px=0).collect())
    assert ident == [(1, 1, 2.0), (1, 2, 5.0)]


def test_spread_rejects_bad_kwargs(spark):
    import pytest

    from zen3geo_spark.operators.rasterize import spread

    img = spark.createDataFrame([(0, 0, 1.0)], "row int, col int, value double")
    with pytest.raises(ValueError, match="how must be one of"):
        spread(img, width=2, height=2, how="mean")
    with pytest.raises(ValueError, match="px must be >= 0"):
        spread(img, width=2, height=2, px=-1)
