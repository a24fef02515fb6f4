"""compact_cells / uncompact_cells / grid_dbscan (operators/cells.py).

Pins the H3 compact invariants (h3-py's public semantics for
``compact_cells`` / ``uncompact_cells``): complete quads promote
recursively, incomplete quads stay, uncompact inverts compact exactly,
and the output is a partition of the input (no overlap, no loss).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from zen3geo_spark.functions.geo import MAX_RES
from zen3geo_spark.operators.cells import (
    compact_cells,
    compact_cells_sql,
    grid_dbscan,
    uncompact_cells,
)


def _cells_df(spark, ids):
    return spark.createDataFrame([(int(c),) for c in ids], "cell long")


def test_full_grid_compacts_to_min_res(spark):
    # every res-3 cell present -> everything promotes to min_res
    full = spark.range(64).select((F.lit(64) + F.col("id")).alias("cell"))
    out = sorted((r.cell, r.cell_res)
                 for r in compact_cells(full, 3, 1).collect())
    assert out == [(4, 1), (5, 1), (6, 1), (7, 1)]
    out0 = [(r.cell, r.cell_res) for r in compact_cells(full, 3, 0).collect()]
    assert out0 == [(1, 0)]


def test_one_missing_leaf_keeps_its_chain_incomplete(spark):
    # drop res-3 cell 64 (iy=0, ix=0): its 3 siblings stay at res 3,
    # the 3 sibling quads of its parent promote to res 2, the 3 sibling
    # quads of its grandparent promote to res 1
    part = spark.range(63).select((F.lit(65) + F.col("id")).alias("cell"))
    out = sorted((r.cell, r.cell_res)
                 for r in compact_cells(part, 3, 0).collect())
    by_res = {}
    for cell, res in out:
        by_res.setdefault(res, []).append(cell)
    assert sorted(by_res) == [1, 2, 3]
    assert len(by_res[1]) == 3 and len(by_res[2]) == 3 and len(by_res[3]) == 3
    # the res-3 survivors are exactly the missing cell's siblings
    assert by_res[3] == [65, 72, 73]


def test_uncompact_inverts_compact(spark):
    import random

    rng = random.Random(7)
    ids = sorted(rng.sample(range(256, 512), 180))  # res-4 cells
    comp = compact_cells(_cells_df(spark, ids), 4, 0)
    back = sorted(r.cell for r in uncompact_cells(comp, 4).collect())
    assert back == ids  # identity, and no duplicates (partition property)

    # MAX_RES: a full 4x4 block in the grid's last rows and columns
    # (compacts two levels up, 16 children on the way back) plus two lone
    # cells, one of them the grid's first
    side, base = 1 << MAX_RES, 1 << (2 * MAX_RES)
    block = [base + iy * side + ix for iy in range(side - 4, side)
             for ix in range(side - 4, side)]
    ids = sorted(block + [base, base + side + 5])
    comp = compact_cells(_cells_df(spark, ids), MAX_RES, MAX_RES - 2)
    assert sorted(r.cell_res for r in comp.collect()) == [MAX_RES - 2,
                                                          MAX_RES, MAX_RES]
    back = sorted(r.cell for r in uncompact_cells(comp, MAX_RES).collect())
    assert back == ids


def test_compact_sql_twin_matches(spark):
    duckdb = pytest.importorskip("duckdb")
    import random

    rng = random.Random(11)
    ids = sorted(rng.sample(range(1024, 2048), 700))  # res-5, dense
    out = sorted((r.cell, r.cell_res)
                 for r in compact_cells(_cells_df(spark, ids), 5, 1).collect())
    vals = ", ".join(f"({c})" for c in ids)
    sql = compact_cells_sql(
        f"select cell from (values {vals}) t(cell)", 5, 1)
    assert sorted(duckdb.sql(sql).fetchall()) == out


def test_grid_dbscan_two_blobs_and_noise(spark):
    # res 4 (16x16 grid, base 256): blob A = cells (1,1),(1,2),(2,2)
    # (8-adjacent chain), blob B = (9,9),(10,10) (diagonal = adjacent),
    # noise = single point at (5,5) below min_pts
    def cell_pts(iy, ix, n):
        # midpoint of cell (iy, ix) at res 4, replicated n times
        lat = int((iy + 0.5) * 180000001 / 16) - 90000000
        lon = int((ix + 0.5) * 360000001 / 16) - 180000000
        return [(lat, lon)] * n

    pts = (cell_pts(1, 1, 2) + cell_pts(1, 2, 3) + cell_pts(2, 2, 2)
           + cell_pts(9, 9, 2) + cell_pts(10, 10, 2) + cell_pts(5, 5, 1))
    df = spark.createDataFrame(pts, "lat_us long, lon_us long")
    out = {r.cell: (r.cluster, r.n_pts)
           for r in grid_dbscan(df, res=4, min_pts=2).collect()}
    base = 256

    def cid(iy, ix):
        return base + iy * 16 + ix

    assert set(out) == {cid(1, 1), cid(1, 2), cid(2, 2),
                        cid(9, 9), cid(10, 10)}  # noise dropped
    a = {out[cid(1, 1)][0], out[cid(1, 2)][0], out[cid(2, 2)][0]}
    b = {out[cid(9, 9)][0], out[cid(10, 10)][0]}
    assert a == {cid(1, 1)} and b == {cid(9, 9)}  # min-id labels
    assert out[cid(1, 2)][1] == 3  # counts carried through


def test_cover_polygon_matches_bruteforce_and_is_antichain(spark):
    from zen3geo_spark.operators.cells import cover_polygon_cells

    # unit-square-ish polygon in micro-degrees
    ring = [(0, 0), (20_000_000, 0), (10_000_000, 15_000_000)]  # triangle
    edges = []
    for i in range(len(ring)):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % len(ring)]
        edges.append((0, x1, y1, x2, y2))
    edges_df = spark.createDataFrame(
        edges, "geom_id long, x1 long, y1 long, x2 long, y2 long")
    polys = spark.createDataFrame(
        [(0, min(y for _, y in ring), max(y for _, y in ring),
          min(x for x, _ in ring), max(x for x, _ in ring))],
        "geom_id long, miny_us long, maxy_us long, minx_us long, maxx_us long")
    res = 7
    out = cover_polygon_cells(polys, edges_df, res=res, min_res=2).collect()

    # brute force: centers-inside cells over the bbox, python ray-cast
    n = 1 << res

    def inside(clat, clon):
        hits = 0
        for _, x1, y1, x2, y2 in edges:
            if (y1 > clat) != (y2 > clat):
                if clon < (x2 - x1) * (clat - y1) / (y2 - y1) + x1:
                    hits += 1
        return hits % 2 == 1

    want = set()
    for iy in range((0 + 90_000_000) * n // 180_000_001,
                    (15_000_000 + 90_000_000) * n // 180_000_001 + 1):
        for ix in range((0 + 180_000_000) * n // 360_000_001,
                        (20_000_000 + 180_000_000) * n // 360_000_001 + 1):
            clat = (2 * iy + 1) * 180_000_001 // (2 * n) - 90_000_000
            clon = (2 * ix + 1) * 360_000_001 // (2 * n) - 180_000_000
            if inside(clat, clon):
                want.add((1 << (2 * res)) + iy * n + ix)
    assert want, "fixture must cover at least one cell"

    # expand the compacted cover back to res and compare exactly
    got = set()
    seen = set()
    for r in out:
        assert (r.cell, r.cell_res) not in seen
        seen.add((r.cell, r.cell_res))
        shift = res - r.cell_res
        body = r.cell - (1 << (2 * r.cell_res))
        iy0 = (body // (1 << r.cell_res)) << shift
        ix0 = (body % (1 << r.cell_res)) << shift
        for dy in range(1 << shift):
            for dx in range(1 << shift):
                leaf = (1 << (2 * res)) + (iy0 + dy) * n + (ix0 + dx)
                assert leaf not in got, "overlapping cover members"
                got.add(leaf)
    assert got == want


def test_cover_segment_matches_sampled_bruteforce(spark):
    """Supercover vs dense sampling: every cell hit by a fine walk along
    the segment must be in the cover (completeness); every covered cell's
    rectangle must actually intersect the segment via the same exact
    integer predicate evaluated in Python (soundness)."""
    from fractions import Fraction

    from zen3geo_spark.operators.cells import cover_segment_cells

    res, n = 6, 64
    segs = [(0, -10_000_000, -5_000_000, 25_000_000, 17_000_000),
            (1, 3_000_000, 3_000_000, 3_000_000, 3_000_000),
            (2, -40_000_000, 30_000_000, -40_000_000, -30_000_000),  # vertical
            (3, -40_000_000, 12_345_678, 41_000_000, 12_345_678)]    # horizontal
    df = spark.createDataFrame(
        segs, "seg_id long, x1 long, y1 long, x2 long, y2 long")
    got = {}
    for r in cover_segment_cells(df, res).collect():
        got.setdefault(r.seg_id, set()).add(r.cell)

    def cell_of(lat, lon):
        iy = (lat + 90_000_000) * n // 180_000_001
        ix = (lon + 180_000_000) * n // 360_000_001
        return (1 << (2 * res)) + iy * n + ix

    for sid, x1, y1, x2, y2 in segs:
        # completeness: 20k exact rational sample points along the segment
        want = set()
        for k in range(20001):
            t = Fraction(k, 20000)
            lon = x1 + t * (x2 - x1)
            lat = y1 + t * (y2 - y1)
            want.add(cell_of(lat.__floor__(), lon.__floor__()))
        assert want <= got[sid], f"seg {sid} missing {want - got[sid]}"
        # soundness: integer corner cross products not all one-signed
        for cell in got[sid]:
            body = cell - (1 << (2 * res))
            iy, ix = body // n, body % n
            lat_lo = -(-(iy * 180_000_001) // n) - 90_000_000
            lat_hi = -(-((iy + 1) * 180_000_001) // n) - 1 - 90_000_000
            lon_lo = -(-(ix * 360_000_001) // n) - 180_000_000
            lon_hi = -(-((ix + 1) * 360_000_001) // n) - 1 - 180_000_000
            ds = [(x2 - x1) * (cy - y1) - (y2 - y1) * (cx - x1)
                  for cy in (lat_lo, lat_hi) for cx in (lon_lo, lon_hi)]
            assert not all(d > 0 for d in ds) and not all(d < 0 for d in ds)
            # and the cell lies inside the segment bbox
            assert min(x1, x2) <= lon_hi and lon_lo <= max(x1, x2)
            assert min(y1, y2) <= lat_hi and lat_lo <= max(y1, y2)


def test_cover_disk_exact_membership(spark):
    """Disk cover vs brute force over the whole res-5 grid: a cell is
    covered iff its rect's nearest point to the center is within r —
    re-derived independently in Python with exact ints."""
    from zen3geo_spark.operators.cells import cover_disk_cells

    res, n = 5, 32
    pts = [(0, 10_000_000, 20_000_000), (1, 89_000_000, 0),  # near pole
           (2, -5_000_000, -179_900_000)]                     # near dateline
    df = spark.createDataFrame(pts, "point_id long, lat_us long, lon_us long")
    r = 7_000_000
    got = {}
    for row in cover_disk_cells(df, r, res).collect():
        got.setdefault(row.point_id, set()).add(row.cell)

    def ceil_div(a, b):
        return -(-a // b)

    for pid, py, px in pts:
        want = set()
        for iy in range(n):
            for ix in range(n):
                lat_lo = ceil_div(iy * 180_000_001, n) - 90_000_000
                lat_hi = ceil_div((iy + 1) * 180_000_001, n) - 1 - 90_000_000
                lon_lo = ceil_div(ix * 360_000_001, n) - 180_000_000
                lon_hi = ceil_div((ix + 1) * 360_000_001, n) - 1 - 180_000_000
                dy = max(lat_lo - py, py - lat_hi, 0)
                dx = max(lon_lo - px, px - lon_hi, 0)
                if dy * dy + dx * dx <= r * r:
                    want.add((1 << (2 * res)) + iy * n + ix)
        assert got.get(pid, set()) == want, f"point {pid}"


def test_moran_i_sign_on_clustered_vs_checkerboard(spark):
    from zen3geo_spark.operators.cells import moran_i

    res, n = 3, 8

    def pts_for(cells_with_counts):
        rows = []
        for (iy, ix), cnt in cells_with_counts.items():
            lat = int((iy + 0.5) * 180000001 / n) - 90000000
            lon = int((ix + 0.5) * 360000001 / n) - 180000000
            rows += [(lat, lon)] * cnt
        return spark.createDataFrame(rows, "lat_us long, lon_us long")

    # clustered: one dense 3x3 block
    clustered = {(iy, ix): 9 for iy in (2, 3, 4) for ix in (2, 3, 4)}
    r1 = moran_i(pts_for(clustered), res).collect()[0]
    assert r1.moran_x1e4 > 3000  # strongly positive autocorrelation

    # alternating horizontal stripes: 6 of 8 queen neighbors are the
    # opposite color (a checkerboard would NOT be negative under queen
    # adjacency — its diagonals are same-colored) -> strongly negative
    stripes = {(iy, ix): 4 for iy in range(n) for ix in range(n)
               if iy % 2 == 0}
    r2 = moran_i(pts_for(stripes), res).collect()[0]
    assert r2.moran_x1e4 < -3000
    # invariants: W = sum of ring degrees (wrap in lon, clamp in lat),
    # den = N^2 * population variance (scaled) > 0
    assert r2.n_cells == n * n and r2.den > 0 and r2.w_pairs > 0


def test_grid_dbscan_wraps_longitude(spark):
    # ix=0 and ix=15 in the same row are ring-adjacent (cylinder wrap)
    def cell_pts(iy, ix, n):
        lat = int((iy + 0.5) * 180000001 / 16) - 90000000
        lon = int((ix + 0.5) * 360000001 / 16) - 180000000
        return [(lat, lon)] * n

    df = spark.createDataFrame(
        cell_pts(8, 0, 2) + cell_pts(8, 15, 2), "lat_us long, lon_us long")
    out = {r.cell: r.cluster for r in grid_dbscan(df, 4, 2).collect()}
    assert len(set(out.values())) == 1  # one wrapped cluster


def test_compact_closed_form_equals_iterative_property():
    """Hypothesis property (pure Python, no Spark per example): the
    closed-form coarsest-complete-ancestor compaction the operator
    implements == the textbook bottom-up sibling-promotion fixpoint,
    for random cell subsets, resolutions, and floors; and
    uncompact∘compact == identity with an antichain output."""
    from hypothesis import given, settings, strategies as st

    def parent(cell, res, pres):
        body = cell - (1 << (2 * res))
        iy, ix = body // (1 << res), body % (1 << res)
        s = res - pres
        return (1 << (2 * pres)) + (iy >> s) * (1 << pres) + (ix >> s)

    def closed_form(cells, res, min_res):
        from collections import Counter
        cnt = Counter()
        for lvl in range(min_res, res + 1):
            for c in cells:
                cnt[(lvl, parent(c, res, lvl))] += 1
        complete = {k for k, n in cnt.items() if n == 4 ** (res - k[0])}
        out = set()
        for c in cells:
            lvl = min(l for l in range(min_res, res + 1)
                      if (l, parent(c, res, l)) in complete)
            out.add((parent(c, res, lvl), lvl))
        return out

    def iterative(cells, res, min_res):
        from collections import Counter
        cur = {(c, res) for c in cells}
        for lvl in range(res, min_res, -1):
            grp = Counter(parent(c, lvl, lvl - 1)
                          for c, l in cur if l == lvl)
            promoted = {p for p, n in grp.items() if n == 4}
            nxt = {(c, l) for c, l in cur
                   if l != lvl or parent(c, lvl, lvl - 1) not in promoted}
            nxt |= {(p, lvl - 1) for p in promoted}
            cur = nxt
        return cur

    def children(cell, lvl, res):
        body = cell - (1 << (2 * lvl))
        iy, ix = body // (1 << lvl), body % (1 << lvl)
        s = res - lvl
        out = set()
        for dy in range(1 << s):
            for dx in range(1 << s):
                out.add((1 << (2 * res))
                        + ((iy << s) + dy) * (1 << res) + (ix << s) + dx)
        return out

    @settings(max_examples=200, deadline=None)
    @given(st.integers(min_value=2, max_value=5),
           st.integers(min_value=0, max_value=2),
           st.data())
    def prop(res, min_res, data):
        n = 1 << (2 * res)
        universe = list(range(n, 2 * n))
        cells = set(data.draw(st.lists(st.sampled_from(universe),
                                       min_size=1, max_size=min(80, n))))
        cf = closed_form(cells, res, min_res)
        assert cf == iterative(cells, res, min_res)
        # round-trip identity + no overlap between members
        back = set()
        for cell, lvl in cf:
            ch = children(cell, lvl, res)
            assert not (back & ch)
            back |= ch
        assert back == cells

    prop()


def test_hex_bin_containment_and_partition(spark):
    """Every point's assigned hex geometrically CONTAINS it
    (|dv| <= B and B|du| + A|dv| <= 2AB), across sign quadrants and
    edge-adjacent coordinates — the tessellation-validity proof."""
    from zen3geo_spark.functions.geo import hex_bin_sql

    A, B = 50, 80
    ex = hex_bin_sql("x", "y", A, B, "spark")
    pts = (spark.range(5041)
           .selectExpr("cast(id % 71 as long) * 7 - 250 as x",
                       "cast(id div 71 as long) * 11 - 390 as y"))
    rows = (pts.selectExpr("x", "y", f"{ex['q']} as q", f"{ex['r']} as r")
            .collect())
    for r_ in rows:
        cx, cy = 3 * A * r_.q, B * r_.q + 2 * B * r_.r
        du, dv = r_.x - cx, r_.y - cy
        assert abs(dv) <= B, (r_.x, r_.y, du, dv)
        assert B * abs(du) + A * abs(dv) <= 2 * A * B, (r_.x, r_.y)
    # hex vertices land in a deterministic cell (tie-break stability):
    # re-evaluating twice gives identical assignments
    again = (pts.selectExpr("x", "y", f"{ex['q']} as q",
                            f"{ex['r']} as r").collect())
    assert [(r_.q, r_.r) for r_ in rows] == [(r_.q, r_.r) for r_ in again]
