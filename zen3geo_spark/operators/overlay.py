"""Spatial overlay join: intersection area between two rectangle sets.

The polygon-overlay primitive (PostGIS ``ST_Intersection`` area /
``geopandas.overlay``) specialized to axis-aligned rectangles — the
shape of serving areas, viewport footprints, and chip bboxes (the
reference's rectangle-clipper semantics, zen3geo
datapipes/geopandas.py:121-141, already pair chips with rects; this
operator pairs RECT SETS with RECT SETS).

Scale design (PBSM / partition-based spatial merge):

* each rect registers under every grid cell its bbox overlaps (bounded
  fan-out: ceil(w/cell)+1 x ceil(h/cell)+1 — choose ``res`` so rects
  span O(1) cells);
* candidates meet via an EQUI-join on the cell id — never an all-pairs
  theta join;
* duplicate candidate pairs (rects sharing several cells) are killed by
  the REFERENCE-POINT rule: a pair is emitted only by the one cell that
  contains the intersection's min corner — a filter, not a distinct, so
  no second shuffle;
* the intersection test + area are exact bigint arithmetic.

The DuckDB twin is the DIRECT theta join (exact overlay semantics), so
a hash match proves the blocked decomposition exact — the same
adversarial-oracle pattern as operators/temporal.interval_join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from zen3geo_spark.functions.geo import (
    cell_encode, cell_from_iy_ix, explode_bbox_cells,
)


def _cell_ids(df: DataFrame, res: int, pfx: str) -> DataFrame:
    """Explode a rect relation (id, x1, y1, x2, y2) to one row per
    overlapped grid cell at ``res`` (the registration step)."""
    return (explode_bbox_cells(df, f"{pfx}y1", f"{pfx}y2", f"{pfx}x1",
                               f"{pfx}x2", res)
            .withColumn("cell", cell_from_iy_ix(F.col("iy"), F.col("ix"), res))
            .drop("iy", "ix"))


def _ref_cell(res: int):
    """Cell of the bbox intersection's min corner: the reference-point
    rule lets only this cell emit a pair (no distinct needed)."""
    return cell_encode(F.greatest("ay1", "by1"), F.greatest("ax1", "bx1"), res)


def rect_overlay_join(a: DataFrame, b: DataFrame, res: int = 5) -> DataFrame:
    """Intersection-area join between rect sets ``a`` and ``b``.

    Inputs: (a_id, ax1, ay1, ax2, ay2) and (b_id, bx1, by1, bx2, by2),
    micro-degree bigints, x1<=x2, y1<=y2, in world bounds (no
    antimeridian wrap — split wrapped rects upstream with
    ``split_antimeridian_bbox``). Output: (a_id, b_id, inter_area)
    for every pair with POSITIVE intersection area (open-interval
    semantics: edge-touching rects do not match), exact µdeg² bigint.
    """
    ra = _cell_ids(a, res, "a")
    rb = _cell_ids(b, res, "b")
    j = ra.join(rb, "cell")
    ox1 = F.greatest("ax1", "bx1")
    oy1 = F.greatest("ay1", "by1")
    wdt = F.least("ax2", "bx2") - ox1
    hgt = F.least("ay2", "by2") - oy1
    return (j.filter((wdt > 0) & (hgt > 0)
                     & (F.col("cell") == _ref_cell(res)))
            .select("a_id", "b_id", (wdt * hgt).cast("long").alias("inter_area")))


def rect_overlay_sql(a_sql: str, b_sql: str) -> str:
    """DuckDB twin: the DIRECT theta join (exact overlay semantics)."""
    return f"""
    with _a as ({a_sql}), _b as ({b_sql})
    select a_id, b_id,
           cast((least(ax2, bx2) - greatest(ax1, bx1))
                * (least(ay2, by2) - greatest(ay1, by1)) as bigint)
             as inter_area
    from _a, _b
    where least(ax2, bx2) > greatest(ax1, bx1)
      and least(ay2, by2) > greatest(ay1, by1)
    """


def _sgn(x: str) -> str:
    return f"(case when ({x}) > 0 then 1 when ({x}) < 0 then -1 else 0 end)"


def orient_sign_sql(px: str, py: str, qx: str, qy: str,
                    rx: str, ry: str) -> str:
    """Sign of the cross product (q−p) × (r−p): +1 left turn, −1 right,
    0 collinear. Micro-degree deltas are ≤ 3.6e8 so each product stays
    < 2^59 — exact bigint; the SIGN is taken before any further
    multiply (a product of two raw orientations would overflow int64).
    Engine-neutral SQL (case/arithmetic only)."""
    return _sgn(f"({qx}-({px}))*({ry}-({py})) - ({qy}-({py}))*({rx}-({px}))")


def proper_cross_sql(a0x, a0y, a1x, a1y, b0x, b0y, b1x, b1y) -> str:
    """Engine-neutral predicate: segments A=(a0,a1), B=(b0,b1) cross
    PROPERLY (one interior point each; endpoint touches and collinear
    overlaps excluded — the sign-unambiguous integer case)."""
    o1 = orient_sign_sql(a0x, a0y, a1x, a1y, b0x, b0y)
    o2 = orient_sign_sql(a0x, a0y, a1x, a1y, b1x, b1y)
    o3 = orient_sign_sql(b0x, b0y, b1x, b1y, a0x, a0y)
    o4 = orient_sign_sql(b0x, b0y, b1x, b1y, a1x, a1y)
    return f"(({o1}) * ({o2}) = -1 and ({o3}) * ({o4}) = -1)"


def segment_intersect_join(a: DataFrame, b: DataFrame,
                           res: int = 4) -> DataFrame:
    """Proper-intersection join between two segment sets — the
    trajectory-crosses-border primitive (PostGIS ``ST_Crosses`` for
    LineString pairs, restricted to single segments and PROPER
    crossings; endpoint touches and collinear overlaps do not match,
    which keeps the integer test sign-unambiguous).

    Inputs: ``a`` = (a_id, asx0, asy0, asx1, asy1), ``b`` = (b_id,
    bsx0, bsy0, bsx1, bsy1) — raw endpoints, micro-degree bigints.
    Scale design is the PBSM discipline of :func:`rect_overlay_join`:
    each segment registers under every grid cell its bbox overlaps
    (fan-out bounded by the segment's extent — callers gap-guard
    tracks upstream so one teleporting host cannot fan out the world),
    candidates meet via the cell EQUI-join (the border side is
    dim-sized → broadcast), the reference-point rule — only the cell
    containing the bbox-intersection's min corner emits the pair —
    kills duplicates without a distinct, and the exact test is four
    orientation signs (:func:`proper_cross_sql`). The DuckDB twin is
    the DIRECT theta join, so a hash match proves the blocked plan
    exact. Output: (a_id, b_id), one row per properly-crossing pair.
    """
    na = a.selectExpr("a_id", "asx0", "asy0", "asx1", "asy1",
                      "least(asx0, asx1) as ax1",
                      "least(asy0, asy1) as ay1",
                      "greatest(asx0, asx1) as ax2",
                      "greatest(asy0, asy1) as ay2")
    nb = b.selectExpr("b_id", "bsx0", "bsy0", "bsx1", "bsy1",
                      "least(bsx0, bsx1) as bx1",
                      "least(bsy0, bsy1) as by1",
                      "greatest(bsx0, bsx1) as bx2",
                      "greatest(bsy0, bsy1) as by2")
    ra = _cell_ids(na, res, "a")
    rb = _cell_ids(nb, res, "b")
    j = ra.join(F.broadcast(rb), "cell")
    # closed-interval bbox overlap (zero-width bboxes of axis-parallel
    # segments still meet); reference point = bbox-intersection min corner
    cross = proper_cross_sql("asx0", "asy0", "asx1", "asy1",
                             "bsx0", "bsy0", "bsx1", "bsy1")
    return (j.filter((F.least("ax2", "bx2") >= F.greatest("ax1", "bx1"))
                     & (F.least("ay2", "by2") >= F.greatest("ay1", "by1"))
                     & (F.col("cell") == _ref_cell(res)))
            .filter(F.expr(cross))
            .select("a_id", "b_id"))


def segment_intersect_sql_duckdb(a_sql: str, b_sql: str) -> str:
    """DuckDB twin: the DIRECT theta join with the identical
    proper-crossing predicate (exact semantics, adversarial oracle)."""
    cross = proper_cross_sql("asx0", "asy0", "asx1", "asy1",
                             "bsx0", "bsy0", "bsx1", "bsy1")
    return f"""
    with _a as ({a_sql}), _b as ({b_sql})
    select a_id, b_id from _a, _b where {cross}
    """


def polygon_intersect_join(ea: DataFrame, eb: DataFrame,
                           res: int = 4) -> DataFrame:
    """ST_Intersects join between two SIMPLE-polygon sets given their
    edge tables — the polygon-overlay join family member that
    :func:`rect_overlay_join` (rect×rect) and the PIP join (point×poly)
    don't cover.

    Inputs: ``ea`` = (a_id, aex0, aey0, aex1, aey1, avx, avy) — one row
    per directed boundary edge, with (avx, avy) the polygon's FIRST
    vertex repeated on every edge row; ``eb`` likewise b-prefixed.
    Micro-degree bigints.

    Predicate (general position — no vertex-on-edge/edge-overlap
    degeneracies, same contract as :func:`proper_cross_sql`): polygons
    intersect iff (i) some edge pair properly crosses, or (ii) A's
    first vertex lies inside B (even–odd crossing number), or (iii)
    B's first vertex lies inside A. If no boundary crossing exists the
    polygons are disjoint or nested, and nesting is decided by any
    single representative vertex — the classical decomposition.

    Scale shape: per-polygon bbox aggregate (map-side combinable) →
    PBSM cell registration → candidate pairs via the cell EQUI-join
    with reference-point dedup (no distinct) → per-candidate work
    bounded by E_a·E_b edge pairs (quads ⇒ 16) and E_b parity terms.
    One final pair-keyed aggregate unions the three conditions. The
    DuckDB twin (:func:`polygon_intersect_sql`) is the direct theta
    join, so a hash match proves the blocked plan exact.
    """

    def meta(e, pid, pfx):
        x0, y0, x1, y1 = (f"{pfx}ex0", f"{pfx}ey0", f"{pfx}ex1", f"{pfx}ey1")
        return e.groupBy(pid).agg(
            F.expr(f"min(least({x0}, {x1}))").alias(f"{pfx}x1"),
            F.expr(f"min(least({y0}, {y1}))").alias(f"{pfx}y1"),
            F.expr(f"max(greatest({x0}, {x1}))").alias(f"{pfx}x2"),
            F.expr(f"max(greatest({y0}, {y1}))").alias(f"{pfx}y2"),
            F.min(f"{pfx}vx").alias(f"{pfx}vx"),
            F.min(f"{pfx}vy").alias(f"{pfx}vy"))

    ma, mb = meta(ea, "a_id", "a"), meta(eb, "b_id", "b")
    ca = _cell_ids(ma, res, "a")
    cb = _cell_ids(mb, res, "b")
    cand = (ca.join(F.broadcast(cb), "cell")
            .filter((F.least("ax2", "bx2") >= F.greatest("ax1", "bx1"))
                    & (F.least("ay2", "by2") >= F.greatest("ay1", "by1"))
                    & (F.col("cell") == _ref_cell(res)))
            .select("a_id", "b_id", "avx", "avy", "bvx", "bvy")
            .localCheckpoint(eager=False))

    cross = (cand.join(ea, "a_id").join(eb, "b_id")
             .filter(F.expr(proper_cross_sql(
                 "aex0", "aey0", "aex1", "aey1",
                 "bex0", "bey0", "bex1", "bey1")))
             .select("a_id", "b_id"))

    def inside(cnd, vx, vy, edges, key, x0, y0, x1, y1):
        xint = (f"cast({x1} - {x0} as double) * cast({vy} - {y0} as double)"
                f" / cast({y1} - {y0} as double) + {x0}")
        return (cnd.join(edges, key)
                .filter(F.expr(f"({y0} > {vy}) != ({y1} > {vy})"))
                .groupBy("a_id", "b_id")
                .agg(F.expr(f"sum(case when {vx} < {xint} then 1 else 0 end)"
                            " % 2").alias("_par"))
                .filter("_par = 1").select("a_id", "b_id"))

    a_in_b = inside(cand, "avx", "avy", eb, "b_id",
                    "bex0", "bey0", "bex1", "bey1")
    b_in_a = inside(cand, "bvx", "bvy", ea, "a_id",
                    "aex0", "aey0", "aex1", "aey1")
    return (cross.unionByName(a_in_b).unionByName(b_in_a)
            .groupBy("a_id", "b_id").agg(F.lit(1).alias("_one"))
            .select("a_id", "b_id"))


def polygon_intersect_sql(ea_sql: str, eb_sql: str) -> str:
    """Twin of :func:`polygon_intersect_join`: the DIRECT theta join
    (engine-neutral SQL — doubles mirror the kernel's arithmetic order
    exactly)."""
    cross = proper_cross_sql("aex0", "aey0", "aex1", "aey1",
                             "bex0", "bey0", "bex1", "bey1")

    def inside(vx, vy, edges, key, x0, y0, x1, y1, va):
        xint = (f"cast(e.{x1} - e.{x0} as double)"
                f" * cast(v.{vy} - e.{y0} as double)"
                f" / cast(e.{y1} - e.{y0} as double) + e.{x0}")
        return f"""
      select v.a_id, v.b_id from {va} v join {edges} e on v.{key} = e.{key}
      where (e.{y0} > v.{vy}) != (e.{y1} > v.{vy})
      group by v.a_id, v.b_id
      having sum(case when v.{vx} < {xint} then 1 else 0 end) % 2 = 1"""

    return f"""
    with _ea as ({ea_sql}), _eb as ({eb_sql}),
    _va as (select distinct a_id, avx, avy from _ea),
    _vb as (select distinct b_id, bvx, bvy from _eb),
    _vab as (select _va.*, b_id from _va, (select distinct b_id from _eb) x),
    _vba as (select _vb.*, a_id from _vb, (select distinct a_id from _ea) x),
    _u as (
      select a_id, b_id from _ea, _eb where {cross}
      union all
      {inside("avx", "avy", "_eb", "b_id",
              "bex0", "bey0", "bex1", "bey1", "_vab")}
      union all
      {inside("bvx", "bvy", "_ea", "a_id",
              "aex0", "aey0", "aex1", "aey1", "_vba")}
    )
    select distinct a_id, b_id from _u
    """


def synth_poly_edges_sql(n: int, seed: int, kind: str, pfx: str) -> str:
    """Engine-neutral synthetic polygon EDGE table (runs verbatim on
    Spark SQL and DuckDB — ``range(n) as t(i)`` and integer arithmetic
    agree): ``n`` ``kind`` ∈ {diamond, square} polygons with
    LCG-scattered centers in ±140e6 × ±60e6 µdeg and radii 1–5.8 Mµdeg.
    Columns ({pfx}_id, {pfx}ex0…, {pfx}vx, {pfx}vy): one row per
    directed CCW edge + the repeated first vertex."""
    idc = f"{pfx}_id"
    e = lambda c: f"{pfx}e{c}"
    cx = f"(((i * 48271 + {seed}) % 2147483647) % 280000001 - 140000000)"
    cy = f"((((i * 48271 + {seed}) * 48271 + 7) % 2147483647) % 120000001 - 60000000)"
    r = "(1000000 + (i % 5) * 1200000)"
    if kind == "diamond":
        verts = [("cx + r", "cy"), ("cx", "cy + r"),
                 ("cx - r", "cy"), ("cx", "cy - r")]
    elif kind == "square":
        verts = [("cx + r", "cy + r"), ("cx - r", "cy + r"),
                 ("cx - r", "cy - r"), ("cx + r", "cy - r")]
    else:
        raise ValueError(f"unknown kind: {kind}")
    vx0, vy0 = verts[0]
    parts = []
    for k in range(4):
        x0, y0 = verts[k]
        x1, y1 = verts[(k + 1) % 4]
        parts.append(
            f"select pid as {idc}, {x0} as {e('x0')}, {y0} as {e('y0')}, "
            f"{x1} as {e('x1')}, {y1} as {e('y1')}, "
            f"{vx0} as {pfx}vx, {vy0} as {pfx}vy from _c{pfx}")
    u = " union all ".join(parts)
    return (f"with _c{pfx} as (select i as pid, {cx} as cx, {cy} as cy, "
            f"{r} as r from range({n}) as t(i)) {u}")


def iou_match(preds: DataFrame, gts: DataFrame) -> DataFrame:
    """Reciprocal-best IoU matching between predicted and ground-truth
    boxes per image — the detection-evaluation pairing step downstream
    of the reference's object-detection box pipeline (zen3geo
    docs/object-detection-boxes.md builds exactly these (image, bbox)
    pairs). A pred matches a gt iff each is the other's best partner by
    (IoU desc, id asc) among positive-IoU pairs — the deterministic
    mutual-argmax relaxation of greedy matching (identical to greedy
    whenever best choices don't collide, and window-expressible, unlike
    sequential greedy).

    Inputs: (image_id, pred_id, px1, py1, px2, py2) and (image_id,
    gt_id, gx1, gy1, gx2, gy2) — integer pixel boxes, x1<x2, y1<y2.
    Candidates meet on the image EQUI-join (per-image box counts are
    bounded), IoU is exact bigint inter/union with iou_milli =
    1000·inter div union. One shuffle on image_id + two small argmax
    windows over the positive-IoU pair table.
    """
    from pyspark.sql.window import Window

    j = preds.join(gts, "image_id")
    ix = F.least("px2", "gx2") - F.greatest("px1", "gx1")
    iy = F.least("py2", "gy2") - F.greatest("py1", "gy1")
    inter = F.greatest(ix, F.lit(0)) * F.greatest(iy, F.lit(0))
    area_p = (F.col("px2") - F.col("px1")) * (F.col("py2") - F.col("py1"))
    area_g = (F.col("gx2") - F.col("gx1")) * (F.col("gy2") - F.col("gy1"))
    pairs = (j.withColumn("_inter", inter)
             .filter(F.col("_inter") > 0)
             .withColumn("_union", area_p + area_g - F.col("_inter"))
             .withColumn("iou_milli",
                         F.expr("1000 * _inter div _union"))
             .select("image_id", "pred_id", "gt_id", "iou_milli")
             .localCheckpoint(eager=False))
    wg = Window.partitionBy("image_id", "gt_id").orderBy(
        F.col("iou_milli").desc(), F.col("pred_id"))
    wp = Window.partitionBy("image_id", "pred_id").orderBy(
        F.col("iou_milli").desc(), F.col("gt_id"))
    return (pairs
            .withColumn("_rg", F.row_number().over(wg))
            .withColumn("_rp", F.row_number().over(wp))
            .filter("_rg = 1 and _rp = 1")
            .select("image_id", "gt_id", "pred_id", "iou_milli"))


def iou_match_sql_duckdb(preds_sql: str, gts_sql: str) -> str:
    """DuckDB twin of :func:`iou_match` (`//` ≡ Spark `div` here —
    every operand is non-negative)."""
    return f"""
    with _p as ({preds_sql}), _g as ({gts_sql}),
    pairs as (
      select p.image_id, p.pred_id, g.gt_id,
             1000 * (greatest(least(px2, gx2) - greatest(px1, gx1), 0)
                     * greatest(least(py2, gy2) - greatest(py1, gy1), 0))
             // ((px2 - px1) * (py2 - py1) + (gx2 - gx1) * (gy2 - gy1)
                 - greatest(least(px2, gx2) - greatest(px1, gx1), 0)
                   * greatest(least(py2, gy2) - greatest(py1, gy1), 0))
               as iou_milli
      from _p p join _g g on p.image_id = g.image_id
      where greatest(least(px2, gx2) - greatest(px1, gx1), 0)
            * greatest(least(py2, gy2) - greatest(py1, gy1), 0) > 0
    ),
    rk as (
      select *,
             row_number() over (partition by image_id, gt_id
                                order by iou_milli desc, pred_id) as rg,
             row_number() over (partition by image_id, pred_id
                                order by iou_milli desc, gt_id) as rp
      from pairs
    )
    select image_id, gt_id, pred_id, iou_milli
    from rk where rg = 1 and rp = 1
    """


def rect_union_area(rects: DataFrame) -> DataFrame:
    """EXACT area of the union of a rectangle set (PostGIS
    ``ST_Area(ST_Union(...))`` for axis-aligned footprints — coverage/
    dissolve analytics) as a relational sweepline:

    1. **strips**: the distinct y boundary values, globally ordered
       (scale-safe ``with_global_pos`` — strip count ≤ 2·|rects|) and
       paired into horizontal strips by a lead window;
    2. **registration**: each rect maps its own y-extent to strip
       indexes via two EQUI-joins on the boundary VALUE (its edges are
       strip boundaries by construction — no range join, no NLJ), then
       explodes the contiguous strip-index sequence it fully covers;
    3. **per-strip interval union**: the classic gaps-and-islands
       rewrite — order x-intervals, running max of previous ends,
       island heads where a gap opens, per-island extents — windows
       partitioned BY STRIP, never global;
    4. one aggregate: Σ island_length × strip_height.

    Half-open semantics [x1,x2)×[y1,y2); integer µdeg ⇒ exact. Output:
    one row (union_area, n_rects, n_strips). The worst-case strip
    fan-out per rect is O(#distinct boundaries it spans) — at corpus
    scale the caller grid-blocks first (rect_overlay_join's cells) and
    unions per block; the kernel itself is the per-block exact step.
    """
    from pyspark.sql.window import Window

    from zen3geo_spark.operators._util import pair_all
    from zen3geo_spark.operators.combinators import with_global_pos

    ys = (rects.selectExpr("y1 as y")
          .unionByName(rects.selectExpr("y2 as y")).distinct())
    yr = with_global_pos(ys, ["y"], "yi")
    wl = Window.orderBy("yi")  # strip table is boundary-sized; the
    # lead below re-partitions it 1-way — acceptable because |strips|
    # is bounded by 2|rects| of the current block, not the corpus
    strips = (yr.withColumn("_ynext", F.lead("y").over(Window.partitionBy(
        F.lit(1)).orderBy("yi")))
        .filter("_ynext is not null")
        .selectExpr("yi as strip", "y as ys", "_ynext as ye"))
    r1 = (rects.join(yr.selectExpr("y as y1", "yi as s_lo"), "y1")
          .join(yr.selectExpr("y as y2", "yi as s_hi"), "y2"))
    reg = (r1.selectExpr("rect_id", "x1", "x2",
                         "explode(sequence(s_lo, s_hi - 1)) as strip"))
    wsx = Window.partitionBy("strip").orderBy("x1", "x2", "rect_id")
    run = (reg.withColumn(
        "_pmax", F.max("x2").over(wsx.rowsBetween(
            Window.unboundedPreceding, -1)))
        .withColumn("_head",
                    F.when(F.col("_pmax").isNull()
                           | (F.col("x1") > F.col("_pmax")), 1)
                    .otherwise(0))
        .withColumn("_isl", F.sum("_head").over(
            wsx.rowsBetween(Window.unboundedPreceding, 0))))
    islands = (run.groupBy("strip", "_isl")
               .agg(F.min("x1").alias("ix1"), F.max("x2").alias("ix2")))
    per_strip = (islands.join(strips, "strip")
                 .selectExpr("(ix2 - ix1) * (ye - ys) as a"))
    area = per_strip.agg(F.sum("a").alias("union_area"))
    counts = rects.agg(F.count("*").alias("n_rects"))
    nstrips = strips.agg(F.count("*").alias("n_strips"))
    return pair_all(pair_all(area, counts), nstrips)


def rect_union_area_sql(rects_sql: str) -> str:
    """Engine-neutral twin of :func:`rect_union_area` (same sweep,
    window dense numbering)."""
    return f"""
    with _r as ({rects_sql}),
    ys as (select distinct y from (
      select y1 as y from _r union select y2 as y from _r)),
    yr as (select y, row_number() over (order by y) as yi from ys),
    strips as (
      select yi as strip, y as ys, lead(y) over (order by yi) as ye
      from yr
    ),
    strips_ok as (select * from strips where ye is not null),
    reg as (
      select r.rect_id, r.x1, r.x2, s.strip
      from _r r
      join yr a on r.y1 = a.y
      join yr b on r.y2 = b.y
      join strips_ok s on s.strip >= a.yi and s.strip <= b.yi - 1
    ),
    run as (
      select strip, x1, x2, rect_id,
             max(x2) over (partition by strip order by x1, x2, rect_id
                           rows between unbounded preceding
                           and 1 preceding) as pmax
      from reg
    ),
    heads as (
      select strip, x1, x2, rect_id,
             case when pmax is null or x1 > pmax then 1 else 0 end as head
      from run
    ),
    isl as (
      select strip, x1, x2,
             sum(head) over (partition by strip
                             order by x1, x2, rect_id
                             rows between unbounded preceding
                             and current row) as island
      from heads
    ),
    ext as (
      select strip, island, min(x1) as ix1, max(x2) as ix2
      from isl group by strip, island
    )
    select (select sum((ix2 - ix1) * (ye - ys))
            from ext join strips_ok using (strip)) as union_area,
           (select count(*) from _r) as n_rects,
           (select count(*) from strips_ok) as n_strips
    """
