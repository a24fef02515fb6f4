"""PIP join + kNN: exactness vs the DuckDB edge-math oracle, salting
row-identity, and cell-path vs brute-force kNN equality."""

import duckdb
from pyspark.sql import functions as F

from zen3geo_spark.functions.geo import cell_encode, cell_parent
from zen3geo_spark.operators.spatial_join import (
    _knn_ring_topk, find_hot_cells, knn_join_bruteforce, knn_join_cells,
    pip_refine_sql, points_in_polygons,
)
from zen3geo_spark.sources.fixtures import GEOM_SCHEMA, with_bbox

# Two micro-degree polygons: a triangle and a notched quad (non-convex).
TRIANGLE = [(0, 0), (20_000_000, 0), (10_000_000, 15_000_000)]
NOTCHED = [(-30_000_000, -10_000_000), (-10_000_000, -10_000_000),
           (-10_000_000, 10_000_000), (-20_000_000, 0),
           (-30_000_000, 10_000_000)]


def _polys(spark):
    rows = []
    for gid, ring in [(0, TRIANGLE), (1, NOTCHED)]:
        parts = [[{"x": float(x), "y": float(y)} for x, y in ring]]
        rows.append((gid, "polygon", parts, "OGC:CRS84"))
    df = with_bbox(spark.createDataFrame(rows, GEOM_SCHEMA))
    return df.select(
        "geom_id", "geom_type", "parts", "crs",
        F.col("minx").cast("long").alias("minx_us"),
        F.col("miny").cast("long").alias("miny_us"),
        F.col("maxx").cast("long").alias("maxx_us"),
        F.col("maxy").cast("long").alias("maxy_us"),
    )


def _points(spark, n=4000):
    """Deterministic points clustered around the polygons."""
    return spark.range(n).selectExpr(
        "id as point_id",
        "cast((id * 48271 + 11) % 40000001 as long) - 20000000 as lat_us",
        "cast((id * 69621 + 7) % 80000001 as long) - 40000000 as lon_us",
    )


def _edges_sql(polys):
    rows = []
    for gid, ring in polys:
        for i in range(len(ring)):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % len(ring)]
            rows.append(f"({gid}, {x1}, {y1}, {x2}, {y2})")
    return "(select * from (values " + ", ".join(rows) + ") e(geom_id, x1, y1, x2, y2))"


def test_pip_matches_duckdb_oracle(spark):
    pts = _points(spark)
    out = points_in_polygons(pts, _polys(spark), res=4)
    got = sorted((r["point_id"], r["geom_id"]) for r in out.collect())

    pts_pd = pts.toPandas()
    con = duckdb.connect()
    con.register("pts", pts_pd)
    edges = _edges_sql([(0, TRIANGLE), (1, NOTCHED)])
    oracle = con.sql(pip_refine_sql("pts", edges)).fetchall()
    want = sorted((r[0], r[1]) for r in oracle)
    assert got == want
    assert len(got) > 50  # sanity: the clusters actually hit the polygons


def test_pip_salted_equals_unsalted(spark):
    pts = _points(spark, 2000)
    polys = _polys(spark)
    base = sorted(
        (r["point_id"], r["geom_id"])
        for r in points_in_polygons(pts, polys, res=4).collect()
    )
    hot = find_hot_cells(pts, res=4, threshold=50)
    salted = sorted(
        (r["point_id"], r["geom_id"])
        for r in points_in_polygons(pts, polys, res=4, salt_factor=8,
                                    hot_cells=hot).collect()
    )
    salted_all = sorted(
        (r["point_id"], r["geom_id"])
        for r in points_in_polygons(pts, polys, res=4, salt_factor=4).collect()
    )
    assert base == salted == salted_all
    # salting only runs on the shuffle join: the broadcast path ignores it
    for kw in ({"salt_factor": 8, "hot_cells": hot}, {"salt_factor": 4}):
        shuffled = sorted(
            (r["point_id"], r["geom_id"])
            for r in points_in_polygons(pts, polys, res=4, broadcast_polys=False,
                                        **kw).collect()
        )
        assert shuffled == base, kw


def test_pip_shuffle_path_matches_broadcast(spark):
    """A polygon side too big to broadcast must take the shuffle equi-join
    (no nested-loop fallback) and produce identical rows."""
    pts = _points(spark, 1000)
    polys = _polys(spark)
    base = sorted(
        (r["point_id"], r["geom_id"])
        for r in points_in_polygons(pts, polys, res=4,
                                    broadcast_polys=True).collect()
    )
    shuffled_df = points_in_polygons(pts, polys, res=4, broadcast_polys=False)
    plan = shuffled_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # note: Catalyst may still auto-broadcast whichever side its stats say
    # is small (here the test's tiny tables) — the gate being tested is
    # only that the FORCED polygon-side hint is gone
    shuffled = sorted((r["point_id"], r["geom_id"]) for r in shuffled_df.collect())
    assert base == shuffled
    # degenerate inputs on both paths: no points at all, and a zero-area
    # (collinear) polygon whose bbox still yields candidates
    no_pts = spark.createDataFrame([], "point_id long, lat_us long, lon_us long")
    line = with_bbox(spark.createDataFrame(
        [(7, "polygon", [[{"x": float(v), "y": float(v)}
                          for v in (0, 10_000_000, 20_000_000)]], "OGC:CRS84")],
        GEOM_SCHEMA)).select(
        "geom_id", "parts",
        *(F.col(c).cast("long").alias(f"{c}_us")
          for c in ("minx", "miny", "maxx", "maxy")))
    for bc in (True, False):
        assert points_in_polygons(no_pts, polys, res=4,
                                  broadcast_polys=bc).collect() == []
        assert points_in_polygons(pts, line, res=4,
                                  broadcast_polys=bc).collect() == []


def test_pip_probe_gates_on_cell_count(spark):
    """The auto probe must decline to broadcast a huge polygon-cell side.
    12k polygons x ~49 covering cells at res 9 ≈ 590k rows > the gate."""
    from zen3geo_spark.operators.spatial_join import (
        BROADCAST_CELL_ROWS, polygon_cover_cells,
    )

    many = spark.range(12000).selectExpr(
        "id as geom_id",
        "cast((id % 360) * 1000000 - 180000000 as long) as minx_us",
        "cast((id % 170) * 1000000 - 85000000 as long) as miny_us",
        "cast((id % 360) * 1000000 - 175000000 as long) as maxx_us",
        "cast((id % 170) * 1000000 - 80000000 as long) as maxy_us",
    )
    n_cells = polygon_cover_cells(many, res=9).count()
    assert n_cells > BROADCAST_CELL_ROWS  # the fixture really is too big
    cap = BROADCAST_CELL_ROWS
    probed = polygon_cover_cells(many, res=9).limit(cap + 1).count()
    assert probed == cap + 1  # the probe sees "too big" without a full count


def test_knn_cells_matches_bruteforce(spark):
    """Dense uniform targets → the 3x3 ring at a coarse res holds the true
    k nearest; cell path must equal brute force including tie-breaks."""
    targets = spark.range(3000).selectExpr(
        "id as target_id",
        "cast((id * 40503 + 3) % 30000001 as long) - 15000000 as lat_us",
        "cast((id * 69621 + 5) % 30000001 as long) - 15000000 as lon_us",
    )
    queries = spark.range(25).selectExpr(
        "id as query_id",
        "cast((id * 7919 + 1) % 20000001 as long) - 10000000 as lat_us",
        "cast((id * 104729 + 9) % 20000001 as long) - 10000000 as lon_us",
    )
    brute = sorted(
        (r["query_id"], r["rk"], r["target_id"])
        for r in knn_join_bruteforce(queries, targets, k=5).collect()
    )
    cells = sorted(
        (r["query_id"], r["rk"], r["target_id"])
        for r in knn_join_cells(queries, targets, k=5, res=3).collect()
    )
    assert brute == cells
    assert len(brute) == 25 * 5


def test_cell_encode_parent_consistency(spark):
    df = _points(spark, 500).select(
        "point_id",
        cell_encode(F.col("lat_us"), F.col("lon_us"), 10).alias("c10"),
        cell_encode(F.col("lat_us"), F.col("lon_us"), 6).alias("c6"),
    )
    bad = df.filter(cell_parent(F.col("c10"), 10, 6) != F.col("c6")).count()
    assert bad == 0


def test_pip_refine_10k_vertex_polygon_bounded():
    """Perf contract: the refine kernel on a 10k-vertex polygon over a
    small point group must be interpreter-bounded by E/e_tile tile
    passes, not E per-edge passes — and stay exact vs an independent
    per-edge ray cast."""
    import time

    import numpy as np

    from zen3geo_spark.operators.spatial_join import pip_inside, ring_edges

    V = 10_000
    ang = np.linspace(0, 2 * np.pi, V, endpoint=False)
    r = np.where(np.arange(V) % 2 == 0, 10_000_000, 6_000_000)
    xs = (r * np.cos(ang)).astype(np.int64)
    ys = (r * np.sin(ang)).astype(np.int64)
    rng = np.random.default_rng(7)
    n = 200
    plon = rng.integers(-12_000_000, 12_000_000, n)
    plat = rng.integers(-12_000_000, 12_000_000, n)
    px = plon.astype(np.float64); py = plat.astype(np.float64)
    edges = ring_edges(xs.astype(np.float64), ys.astype(np.float64), [V])
    pip_inside(px, py, edges)  # warm allocator/first-touch
    t0 = time.time()
    inside = pip_inside(px, py, edges)
    wall = time.time() - t0
    # independent exact reference: per-edge even-odd ray cast
    x1 = xs.astype(np.float64); y1 = ys.astype(np.float64)
    x2 = np.roll(x1, -1); y2 = np.roll(y1, -1)
    cr = np.zeros(n, dtype=np.int64)
    with np.errstate(divide="ignore", invalid="ignore"):
        for j in range(V):
            st = (y1[j] > py) != (y2[j] > py)
            xi = (x2[j] - x1[j]) * (py - y1[j]) / (y2[j] - y1[j]) + x1[j]
            cr += st & (px < xi)
    assert set(np.nonzero(inside)[0].tolist()) == set(
        np.nonzero(cr % 2 == 1)[0].tolist())
    # generous ceiling (shared host): per-edge interpreted looping costs
    # ~0.1 s+ here; the tiled kernel runs ~2 tile passes in a few ms
    assert wall < 1.0, f"10k-vertex refine took {wall:.2f}s"


def test_pip_map_side_refine_rejects_unknown_geom_id():
    """A candidate whose geom_id has no row in the driver's edge snapshot
    raises instead of being tested against a neighbouring polygon's edges
    (between two ids) or running off the end of the index (past the last
    one)."""
    import numpy as np
    import pyarrow as pa
    import pytest

    from zen3geo_spark.operators.spatial_join import _refine_map_side, ring_edges

    # geom_ids 1 and 3, the same 10x10 square each
    xs = np.array([0.0, 10.0, 10.0, 0.0] * 2)
    ys = np.array([0.0, 0.0, 10.0, 10.0] * 2)
    index = (np.array([1, 3]), np.array([0, 4]), np.array([4, 4]),
             *ring_edges(xs, ys, [4, 4]))
    refine = _refine_map_side(index)

    def batch(gid):
        return pa.RecordBatch.from_pydict(
            {"point_id": [7], "geom_id": [gid], "lat_us": [5], "lon_us": [5]})

    assert [b.num_rows for b in refine([batch(1), batch(3)])] == [1, 1]
    for gid in (2, 4):
        with pytest.raises(ValueError, match=f"geom_id {gid} has no edge row"):
            list(refine([batch(gid)]))


def test_knn_cells_ring_escalation_exactness(spark):
    """Plants a query whose TRUE nearest target lies outside its 3x3 ring
    at the initial res (sparse neighborhood: the only in-ring candidate is
    farther than the ring-guaranteed radius). One-pass ring kNN returns
    the wrong neighbor; escalation must detect the unsettled query, retry
    at res-1 and match brute force — exactness as an invariant, not a
    density assumption."""
    res = 7

    def row_floor(j):  # smallest lat_us whose row index at `res` is j
        return -(-j * 180000001 // (1 << res)) - 90000000

    q_lat = row_floor(65) - 1000          # near the TOP of row 64
    t_out_lat = row_floor(66) + 1000      # row 66: outside the 63..65 ring
    t_in_lat = row_floor(63) + 1000       # row 63: in ring, but ~2x farther
    assert (q_lat - t_in_lat) > (t_out_lat - q_lat)

    queries = spark.createDataFrame(
        [(0, q_lat, 0), (1, -5_000_000, -5_000_000)],
        "query_id long, lat_us long, lon_us long")
    targets = spark.createDataFrame(
        [(100, t_out_lat, 0), (101, t_in_lat, 0)]
        + [(200 + i, -5_000_000 + i * 3000, -5_000_000 - i * 2000)
           for i in range(5)],
        "target_id long, lat_us long, lon_us long")

    brute = sorted(
        (r["query_id"], r["rk"], r["target_id"])
        for r in knn_join_bruteforce(queries, targets, k=1).collect())
    # the one-pass ring path really is wrong on this data (the trap is live)
    one_pass = {r["query_id"]: r["target_id"]
                for r in _knn_ring_topk(queries, targets, k=1,
                                        res=res).collect()}
    assert one_pass[0] == 101
    escalated = sorted(
        (r["query_id"], r["rk"], r["target_id"])
        for r in knn_join_cells(queries, targets, k=1, res=res).collect())
    assert escalated == brute
    assert dict((q, t) for q, _, t in escalated)[0] == 100


def test_knn_cells_escalation_fewer_targets_than_k(spark):
    """k exceeding the total target count must terminate (res walks to 0,
    the single-cell grid) and return exactly the brute-force rows."""
    queries = spark.createDataFrame(
        [(0, 10_000_000, 20_000_000)], "query_id long, lat_us long, lon_us long")
    targets = spark.createDataFrame(
        [(1, -80_000_000, -170_000_000), (2, 80_000_000, 170_000_000)],
        "target_id long, lat_us long, lon_us long")
    brute = sorted(
        (r["query_id"], r["rk"], r["target_id"])
        for r in knn_join_bruteforce(queries, targets, k=5).collect())
    cells = sorted(
        (r["query_id"], r["rk"], r["target_id"])
        for r in knn_join_cells(queries, targets, k=5, res=6).collect())
    assert cells == brute
    assert len(cells) == 2


def test_pip_multi_ring_hole_and_multipart(spark):
    """Even-odd ring semantics, pinned directly (not just vs the SQL
    twin, which shares the parity formula): a point inside the donut's
    inner ring is OUTSIDE the geometry; a point between the rings is
    inside; each part of a two-part multipolygon matches independently."""
    import __spark_entry__ as E

    probes = spark.createDataFrame(
        [
            (0, 0, 0),                          # donut hole centre → no match
            (1, 30_000_000, -45_000_000),       # between rings → geom 0
            (2, -20_000_000, 100_000_000),      # inside part 1 of geom 1
            (3, 50_000_000, -150_000_000),      # inside part 2 of geom 1
            (4, 89_000_000, 0),                 # far outside everything
        ],
        "point_id long, lat_us long, lon_us long")
    got = {
        (r["point_id"], r["geom_id"])
        for r in points_in_polygons(
            probes, E._multi_polys_df(spark), res=4,
            broadcast_polys=True).collect()
    }
    assert got == {(1, 0), (2, 1), (3, 1)}


def test_tile_pyramid_delta_reconciles_snapshots(spark):
    """Incremental-maintenance invariant: pyramid(A) + delta == pyramid(B)
    at every zoom, where delta is built from the snapshot fringe only."""
    import __spark_entry__ as E
    from zen3geo_spark.functions.geo import cell_encode
    from zen3geo_spark.functions.geo import cell_parent
    from zen3geo_spark.sources.pages import synth_pages
    from zen3geo_spark.functions.geo import (
        extract_first_geotag, micro_from_str,
    )

    n, lo, n2 = E.N_PAGES, E.N_PAGES // 5, E.N_PAGES * 6 // 5

    def pyramid(id_lo, id_hi, zoom):
        pages = synth_pages(spark, n2).withColumn(
            "pid", F.regexp_extract("url", r"/page/(\d+)", 1).cast("long"))
        lat_s, lon_s = extract_first_geotag(F.col("text"))
        pts = (pages.filter((F.col("pid") >= id_lo) & (F.col("pid") < id_hi))
               .select(lat_s.alias("la"), lon_s.alias("lo"))
               .filter(F.col("la") != "")
               .select(micro_from_str(F.col("la")).alias("lat_us"),
                       micro_from_str(F.col("lo")).alias("lon_us")))
        c6 = pts.withColumn("cell", cell_encode("lat_us", "lon_us", 6))
        g = c6.groupBy(cell_parent(F.col("cell"), 6, zoom).alias("cell")) \
              .agg(F.count("*").alias("n"))
        return {r["cell"]: r["n"] for r in g.collect()}

    delta = {
        (r["zoom"], r["cell"]): r["delta"]
        for r in E.q_tile_pyramid_delta(spark, "unused").collect()
    }
    for zoom in (6, 4, 2):
        a = pyramid(0, n, zoom)
        b = pyramid(lo, n2, zoom)
        cells = set(a) | set(b)
        for c in cells:
            want = b.get(c, 0) - a.get(c, 0)
            assert delta.get((zoom, c), 0) == want, (zoom, c)


def test_str_pack_matches_reference_packing(spark):
    """STR leaf directory vs a from-scratch Python STR pack (same total
    order): every leaf <= cap, leaves partition the set, bboxes exact."""
    import math
    import random

    from zen3geo_spark.operators.spatial_join import str_pack_points

    rng = random.Random(5)
    pts = [(i, rng.randrange(-180_000_000, 180_000_001),
            rng.randrange(-90_000_000, 90_000_001)) for i in range(500)]
    df = spark.createDataFrame(
        pts, "point_id long, lon_us long, lat_us long")
    cap = 16
    got = {r.leaf_id: (r.n_pts, r.minx_us, r.maxx_us, r.miny_us, r.maxy_us)
           for r in str_pack_points(df, cap).collect()}

    n = len(pts)
    s = math.ceil(math.sqrt(math.ceil(n / cap)))
    by_x = sorted(pts, key=lambda p: (p[1], p[0]))
    want = {}
    for strip_i in range(0, n, s * cap):
        strip = sorted(by_x[strip_i:strip_i + s * cap],
                       key=lambda p: (p[2], p[0]))
        for leaf_i in range(0, len(strip), cap):
            leaf = strip[leaf_i:leaf_i + cap]
            lid = (strip_i // (s * cap)) * s + leaf_i // cap
            want[lid] = (len(leaf),
                         min(p[1] for p in leaf), max(p[1] for p in leaf),
                         min(p[2] for p in leaf), max(p[2] for p in leaf))
    assert got == want
    assert all(v[0] <= cap for v in got.values())
    assert sum(v[0] for v in got.values()) == n
