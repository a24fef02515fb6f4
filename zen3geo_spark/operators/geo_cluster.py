"""Integer-exact k-means over geotag points (Lloyd's algorithm).

The POI / hotspot clustering pass (geotag density centers per region)
as a bounded sequence of map-only rounds: assignment is a pure JVM
expression over a BROADCAST centroid literal (k ≈ dozens — codebook-
sized, like the IVF coarse quantizer in operators/similarity.py), the
update is one map-side-combinable aggregate producing k rows that are
collected driver-side (planning-sized, the accepted IVF pattern), and
the next round's literal is rebuilt from them. No shuffle ever carries
more than k rows beyond the one assignment aggregate per round.

Exactness: squared micro-degree distances are bigint (|Δ| ≤ 3.6e8 ⇒
sums < 2^59), argmin ties break on the lower centroid id via struct
ordering, and centroid updates use the non-negative-rewritten FLOOR
division shared with the trajectory kernels — so every round, and the
final table, is bit-identical to the DuckDB twin's unrolled recurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from zen3geo_spark.operators.trajectory import floor_div_sql


def _seed_centroids(k: int) -> list[tuple[int, int, int]]:
    """Deterministic LCG seed centroids (id, x, y) in world µdeg."""
    out = []
    for i in range(k):
        s = ((i * 48271 + 13) * 48271 + 7) % 2147483647
        x = s % 360000001 - 180000000
        y = (s * 48271 + 11) % 2147483647 % 180000001 - 90000000
        out.append((i, x, y))
    return out


def _assign_expr(cents: list[tuple[int, int, int]], x: str, y: str) -> str:
    """JVM argmin over the centroid literal: array_sort of (dist², id)
    structs — whole-stage codegen, no join, no Python."""
    items = ", ".join(
        f"struct(({x} - {cx})*({x} - {cx}) + ({y} - {cy})*({y} - {cy}) "
        f"as d, {cid} as id)"
        for cid, cx, cy in cents)
    return f"array_sort(array({items}))[0].id"


def geo_kmeans(points: DataFrame, k: int = 12, rounds: int = 3) -> DataFrame:
    """Lloyd k-means on (x, y) µdeg points → one row per non-empty
    cluster after ``rounds`` updates: (cluster_id, n_points, cx, cy).
    Empty clusters keep their previous centroid (they can repopulate).
    """
    cents = _seed_centroids(k)
    spark = points.sparkSession
    for _ in range(rounds):
        cid = _assign_expr(cents, "lon_us", "lat_us")
        upd = (points.selectExpr(f"{cid} as cid", "lon_us", "lat_us")
               .groupBy("cid")
               .agg(F.count("*").alias("n"),
                    F.sum("lon_us").alias("sx"), F.sum("lat_us").alias("sy"))
               .selectExpr("cid", "n",
                           floor_div_sql("sx", "n", "spark") + " as cx",
                           floor_div_sql("sy", "n", "spark") + " as cy")
               .collect())
        got = {r["cid"]: (r["cx"], r["cy"]) for r in upd}
        cents = [(i, *got[i]) if i in got else (i, x, y)
                 for i, x, y in cents]
    cid = _assign_expr(cents, "lon_us", "lat_us")
    # SQL VALUES LocalRelation (not a pickled createDataFrame) — the
    # broadcast build stays JVM-only
    seeds = ", ".join(f"({i}, {x}L, {y}L)" for i, x, y in cents)
    cdf = spark.sql(f"select * from values {seeds} as t(cid, cx, cy)")
    return (points.selectExpr(f"{cid} as cid", "lon_us", "lat_us")
            .groupBy("cid")
            .agg(F.count("*").alias("n_points"))
            .join(cdf, "cid")
            .selectExpr("cid as cluster_id", "n_points", "cx", "cy"))


def geo_kmeans_sql_duckdb(points_sql: str, k: int = 12, rounds: int = 3) -> str:
    """DuckDB twin: the identical recurrence unrolled — assignment via
    a k-fanout join + (dist², id) argmin window, update via the same
    floor division, empty clusters inheriting the previous centroid."""
    seeds = ", ".join(f"({i}, {x}, {y})" for i, x, y in _seed_centroids(k))
    dx = "(p.lon_us - c.cx)"
    dy = "(p.lat_us - c.cy)"
    parts = [f"_p as ({points_sql})",
             f"c0 as (select * from (values {seeds}) t(cid, cx, cy))"]
    for r in range(rounds):
        parts.append(f"""a{r} as (
      select lon_us, lat_us, cid from (
        select p.lon_us, p.lat_us, c.cid,
               row_number() over (
                 partition by p.lon_us, p.lat_us, p._rid
                 order by {dx}*{dx} + {dy}*{dy}, c.cid) as rk
        from (select *, row_number() over () as _rid from _p) p, c{r} c
      ) where rk = 1)""")
        parts.append(f"""u{r} as (
      select cid, count(*) as n, sum(lon_us) as sx, sum(lat_us) as sy
      from a{r} group by cid)""")
        cxe = floor_div_sql("u.sx", "u.n", "duckdb")
        cye = floor_div_sql("u.sy", "u.n", "duckdb")
        parts.append(f"""c{r + 1} as (
      select c.cid,
             coalesce({cxe}, c.cx) as cx,
             coalesce({cye}, c.cy) as cy
      from c{r} c left join u{r} u on c.cid = u.cid)""")
    dxf = "(p.lon_us - c.cx)"
    dyf = "(p.lat_us - c.cy)"
    return ("with " + ",\n".join(parts) + f"""
    , af as (
      select cid from (
        select c.cid,
               row_number() over (
                 partition by p.lon_us, p.lat_us, p._rid
                 order by {dxf}*{dxf} + {dyf}*{dyf}, c.cid) as rk
        from (select *, row_number() over () as _rid from _p) p,
             c{rounds} c
      ) where rk = 1)
    select f.cid as cluster_id, count(*) as n_points, c.cx, c.cy
    from af f join c{rounds} c on f.cid = c.cid
    group by 1, 3, 4
    """)
