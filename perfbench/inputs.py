"""Seeded input generators for the benchmark workloads.

Every table is a pure function of the seed and is written to
Parquet before the engine sees it. The pages table is built from the
DuckDB form of ``sources.pages.page_col_exprs`` over a seed-offset id
range; the output checks derive their expected rows from the same SQL.
Polygons and scene parameters come from a seeded numpy generator.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from dataclasses import dataclass

import numpy as np

from zen3geo_spark.functions.geo import LAT_LON_PATTERN
from zen3geo_spark.sources.pages import page_col_exprs

# Seeds map onto disjoint id ranges of this stride; ids stay far below the
# bigint and timestamp limits of both engines for any seed.
PAGE_ID_STRIDE = 4_000_000
SEED_SLOTS = 4096

# A geotag whose integer degrees are rewritten into the hot box keeps its
# six pseudo-random fractional digits, so hot points spread over 1x1 deg.
TAG_GROUPS = r"lat=-?\d+\.(\d{6}) lon=-?\d+\.(\d{6})"


# Roughly half of all rows (blocks of three ids) carry hot geotags.
HOT_ROW_SQL = "((id // 3) % 2 = 0)"


@dataclass(frozen=True)
class PagesSpec:
    seed: int
    n: int
    hot_box: tuple[int, int] | None = None  # (lat_deg, lon_deg) lower corner

    @property
    def offset(self) -> int:
        return (self.seed % SEED_SLOTS) * PAGE_ID_STRIDE


def pages_text_sql(spec: PagesSpec) -> str:
    """DuckDB expression over ``id``: the page text, hot geotags rewritten."""
    text = page_col_exprs("duckdb")["text"]
    if spec.hot_box is None:
        return text
    lat0, lon0 = spec.hot_box
    return (f"case when {HOT_ROW_SQL} then regexp_replace({text}, "
            f"'{TAG_GROUPS}', 'lat={lat0}.\\1 lon={lon0}.\\2', 'g') "
            f"else {text} end")


def write_pages(con, spec: PagesSpec, path: str, row_groups: int) -> None:
    """Write the pages table ``(url, warc_ts, html, text, lang)`` as one
    Parquet file of ``row_groups`` row groups."""
    exprs = page_col_exprs("duckdb")
    rg = max(2048, -(-spec.n // row_groups))
    os.makedirs(path, exist_ok=True)
    con.execute(f"""
    copy (select {exprs['url']} as url,
                 cast({exprs['warc_ts']} as timestamptz) as warc_ts,
                 encode(concat('<html><body>', text, '</body></html>')) as html,
                 text, {exprs['lang']} as lang
          from (select id, {pages_text_sql(spec)} as text
                from range({spec.offset}, {spec.offset + spec.n}) t(id))
          order by id)
    to '{path}/part-0.parquet' (format parquet, row_group_size {rg})""")


def duckdb_points_sql(spec: PagesSpec, where: str = "true") -> str:
    """The first well-formed geotag of every page as ``(point_id, lat_us,
    lon_us)`` -- the rows ``extract_points_arrow`` must produce."""
    lat = f"regexp_extract(text, '{LAT_LON_PATTERN}', 1)"
    lon = f"regexp_extract(text, '{LAT_LON_PATTERN}', 2)"
    return f"""
    select id as point_id,
           cast(try_cast(lat_s as decimal(10,6)) * 1000000 as bigint) as lat_us,
           cast(try_cast(lon_s as decimal(10,6)) * 1000000 as bigint) as lon_us
    from (select id, {lat} as lat_s, {lon} as lon_s
          from (select id, {pages_text_sql(spec)} as text
                from range({spec.offset}, {spec.offset + spec.n}) t(id)
                where {where}))
    where lat_s <> ''
    """


def write_arrow(path: str, columns: dict, schema) -> None:
    """Write a small in-memory table as one Parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(columns, schema=schema), f"{path}/part-0.parquet")


def parts_type():
    import pyarrow as pa

    xy = pa.struct([("x", pa.float64()), ("y", pa.float64())])
    return pa.list_(pa.list_(xy))


# ---------------------------------------------------------------------------
# polygons: seeded star polygons in micro-degrees (x = lon, y = lat)
# ---------------------------------------------------------------------------

def star(cx: float, cy: float, r_out: float, r_in: float, spikes: int,
         rng: np.random.Generator) -> list[tuple[int, int]]:
    """A simple star ring with ``2 * spikes`` vertices, jittered radii."""
    ring = []
    phase = rng.uniform(0, math.pi / spikes)
    for k in range(2 * spikes):
        r = (r_out if k % 2 == 0 else r_in) * rng.uniform(0.85, 1.0)
        a = phase + k * math.pi / spikes
        ring.append((int(round(cx + r * math.cos(a))),
                     int(round(cy + r * math.sin(a)))))
    return ring


def uniform_polygons(seed: int, n: int = 4, spikes: int = 12) -> list[list]:
    """A few small stars (about 8 deg across) scattered over the globe."""
    rng = np.random.default_rng([seed, 1])
    out = []
    for _ in range(n):
        cx = rng.uniform(-170e6, 170e6)
        cy = rng.uniform(-60e6, 60e6)
        out.append(star(cx, cy, 4e6, 1.8e6, spikes, rng))
    return out


def hot_box(seed: int, res: int) -> tuple[int, int]:
    """Lower corner (lat, lon) of a 1x1 deg box around the centre of a
    seeded northern-hemisphere cell at ``res``, so every seed puts the
    whole box in one cell of the join grid."""
    rng = np.random.default_rng([seed, 2])
    n = 1 << res
    iy = int(rng.integers(n // 2, n - n // 16))
    ix = int(rng.integers(n // 2, n))
    return (int(-90 + 180 * (iy + 0.5) / n), int(-180 + 360 * (ix + 0.5) / n))


def hotspot_polygons(seed: int, box: tuple[int, int], grid: int,
                     spikes: int) -> list[list]:
    """``grid x grid`` stars packed inside the 1x1 deg hot box."""
    rng = np.random.default_rng([seed, 3])
    lat0, lon0 = box
    cell = 1e6 / grid
    out = []
    for i in range(grid):
        for j in range(grid):
            cx = lon0 * 1e6 + (j + 0.5 + rng.uniform(-0.08, 0.08)) * cell
            cy = lat0 * 1e6 + (i + 0.5 + rng.uniform(-0.08, 0.08)) * cell
            out.append(star(cx, cy, 0.42 * cell, 0.2 * cell, spikes, rng))
    return out


def write_polygons(path: str, rings: list[list]) -> None:
    """``(geom_id, geom_type, parts, crs, minx_us, miny_us, maxx_us,
    maxy_us)`` -- the shape ``points_in_polygons`` takes."""
    import pyarrow as pa

    n = len(rings)
    i64 = pa.int64()
    write_arrow(path, {
        "geom_id": list(range(n)), "geom_type": ["polygon"] * n,
        "parts": [[[{"x": float(x), "y": float(y)} for x, y in r]] for r in rings],
        "crs": ["OGC:CRS84"] * n,
        "minx_us": [min(x for x, _ in r) for r in rings],
        "miny_us": [min(y for _, y in r) for r in rings],
        "maxx_us": [max(x for x, _ in r) for r in rings],
        "maxy_us": [max(y for _, y in r) for r in rings],
    }, pa.schema([("geom_id", i64), ("geom_type", pa.string()),
                  ("parts", parts_type()), ("crs", pa.string()),
                  ("minx_us", i64), ("miny_us", i64), ("maxx_us", i64),
                  ("maxy_us", i64)]))


def edges_sql(rings: list[list]) -> str:
    """DuckDB query of every ring edge as ``(geom_id, x1, y1, x2, y2)``."""
    rows = []
    for gid, ring in enumerate(rings):
        for i, (x1, y1) in enumerate(ring):
            x2, y2 = ring[(i + 1) % len(ring)]
            rows.append(f"({gid}, {x1}, {y1}, {x2}, {y2})")
    return ("select * from (values " + ", ".join(rows)
            + ") v(geom_id, x1, y1, x2, y2)")


def bbox_filter_sql(rings: list[list]) -> str:
    """SQL predicate over (lat_us, lon_us): inside any polygon's bbox."""
    conds = []
    for ring in rings:
        xs = [x for x, _ in ring]
        ys = [y for _, y in ring]
        conds.append(f"(lon_us between {min(xs)} and {max(xs)} and "
                     f"lat_us between {min(ys)} and {max(ys)})")
    return "(" + " or ".join(conds) + ")"


# ---------------------------------------------------------------------------
# raster scenes: long-form pixels + per-scene polygons in pixel units
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class ScenesSpec:
    seed: int
    n_scenes: int
    n_band: int
    n_y: int
    n_x: int
    polys_per_scene: int
    spikes: int = 16

    @property
    def n_pixels(self) -> int:
        return self.n_scenes * self.n_band * self.n_y * self.n_x

    def value_sql(self) -> str:
        """Integer-valued pixel values (exact double sums in any order)."""
        return (f"cast(((id + {(self.seed % SEED_SLOTS) * 1000003}) * 7919 "
                f"% 1000003) % 1000 as double)")


def scene_polygons(spec: ScenesSpec) -> list[tuple[int, list[tuple[float, float]]]]:
    """``(scene_id, ring)`` stars in pixel units (x east, y north from the
    scene's south edge); vertices are non-integral so no pixel centre
    lies on an edge."""
    rng = np.random.default_rng([spec.seed, 4])
    out = []
    for s in range(spec.n_scenes):
        for _ in range(spec.polys_per_scene):
            r = rng.uniform(0.085, 0.095) * min(spec.n_y, spec.n_x)
            cx = rng.uniform(r, spec.n_x - r)
            cy = rng.uniform(r, spec.n_y - r)
            ring = []
            phase = rng.uniform(0, math.pi / spec.spikes)
            for k in range(2 * spec.spikes):
                rk = (r if k % 2 == 0 else 0.45 * r) * rng.uniform(0.85, 1.0)
                a = phase + k * math.pi / spec.spikes
                ring.append((cx + rk * math.cos(a) + 1e-3,
                             cy + rk * math.sin(a) + 1e-3))
            out.append((s, ring))
    return out


def pixels_sql(spec: ScenesSpec) -> str:
    """Long-form pixels ``(scene_id, band, y_idx, x_idx, value)``."""
    per_scene = spec.n_band * spec.n_y * spec.n_x
    return f"""
    select id // {per_scene} as scene_id,
           cast((id // {spec.n_y * spec.n_x}) % {spec.n_band} as int) as band,
           cast((id // {spec.n_x}) % {spec.n_y} as int) as y_idx,
           cast(id % {spec.n_x} as int) as x_idx,
           {spec.value_sql()} as value
    from range({spec.n_pixels}) t(id)"""


def write_scenes(con, spec: ScenesSpec, root: str, row_groups: int) -> None:
    """Pixels, scene sizes, one canvas per scene and the scene polygons.
    Canvases are in pixel units, so row 0 of a burned raster is the
    scene's north row, matching ``y_idx = 0``."""
    import pyarrow as pa

    os.makedirs(f"{root}/pixels", exist_ok=True)
    rg = max(2048, -(-spec.n_pixels // row_groups))
    con.execute(f"copy ({pixels_sql(spec)} order by id) to "
                f"'{root}/pixels/part-0.parquet' "
                f"(format parquet, row_group_size {rg})")
    ids = list(range(spec.n_scenes))
    n = spec.n_scenes
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    write_arrow(f"{root}/meta", {
        "scene_id": ids, "n_band": [spec.n_band] * n, "n_y": [spec.n_y] * n,
        "n_x": [spec.n_x] * n,
    }, pa.schema([("scene_id", i64), ("n_band", i32), ("n_y", i32), ("n_x", i32)]))
    write_arrow(f"{root}/canvas", {
        "canvas_id": ids, "width": [spec.n_x] * n, "height": [spec.n_y] * n,
        "xmin": [0.0] * n, "ymin": [0.0] * n, "xmax": [float(spec.n_x)] * n,
        "ymax": [float(spec.n_y)] * n, "crs": ["OGC:CRS84"] * n,
    }, pa.schema([("canvas_id", i64), ("width", i32), ("height", i32),
                  ("xmin", f64), ("ymin", f64), ("xmax", f64), ("ymax", f64),
                  ("crs", pa.string())]))
    polys = scene_polygons(spec)
    write_arrow(f"{root}/geoms", {
        "geom_id": list(range(len(polys))), "geom_type": ["polygon"] * len(polys),
        "parts": [[[{"x": x, "y": y} for x, y in ring]] for _, ring in polys],
        "crs": ["OGC:CRS84"] * len(polys), "vset_id": [s for s, _ in polys],
    }, pa.schema([("geom_id", i64), ("geom_type", pa.string()),
                  ("parts", parts_type()), ("crs", pa.string()),
                  ("vset_id", i64)]))


# ---------------------------------------------------------------------------
# digest: what the seed determines, hashed from the generated rows
# ---------------------------------------------------------------------------

def input_digest(pages: PagesSpec | None = None, rings: list | None = None,
                 scenes: ScenesSpec | None = None) -> str:
    """sha256 over the generated rows (hashed in DuckDB, order-free)."""
    import duckdb

    h = hashlib.sha256()
    con = duckdb.connect()
    try:
        if pages is not None:
            h.update(repr(con.sql(
                f"select count(*), bit_xor(hash(id, {pages_text_sql(pages)})) "
                f"from range({pages.offset}, {pages.offset + pages.n}) t(id)"
            ).fetchall()).encode())
        if rings is not None:
            h.update(json.dumps(rings).encode())
        if scenes is not None:
            h.update(repr(con.sql(
                f"select count(*), bit_xor(hash(scene_id, band, y_idx, x_idx, value)) "
                f"from ({pixels_sql(scenes)})").fetchall()).encode())
            h.update(json.dumps(scene_polygons(scenes)).encode())
    finally:
        con.close()
    return h.hexdigest()
