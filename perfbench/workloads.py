"""The three benchmark workloads.

Each workload writes its seeded inputs (``generate``), runs one timed job
over them (``job``), checks job outputs against a DuckDB oracle computed
from the same generator (``expected`` / ``check``) and runs a traced pass
in which every call into an engine layer gets its own span (``traced``).
"""

from __future__ import annotations

import json
import os

from perfbench import inputs
from perfbench.trace import COUNTS_LAYER, INPUT_LAYER, Tracer

PIP_RES = 4          # cell resolution of the PIP equi-join
CELL_RES = 12        # point cell index written by the checkpointed pipeline
PARENT_RES = 2       # coarse parent cell: partition column of that stage
ROLLUP_RES = 6
SAMPLE_FRAC = 0.02   # planning sample for find_hot_cells
CHIP, OVERLAP = 256, 128

LAYERS = ("session", "sources.pages", "functions.geo",
          "operators.spatial_join", "plans.checkpoint",
          "operators.chipper", "operators.rasterize")
SPAN_LAYERS = LAYERS[1:] + ("sources.raster",)
CKPT_STAGES = ("extract", "cells", "pip", "rollup")


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def hot_threshold(n_pages: int, cores: int) -> int:
    """Sample count above which a cell's full-scale refine share exceeds
    the per-task budget ``n_pages / (4 * cores)``."""
    return max(1, int(n_pages // (4 * cores) * SAMPLE_FRAC))


def duck(threads: int, tmp: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"set threads = {threads}")
    con.execute(f"set temp_directory = '{tmp}'")
    return con


class Workload:
    name = ""
    rows = 0  # input rows per job: pages or pixels

    def __init__(self, seed: int, cores: int):
        self.seed, self.cores = seed, cores
        self.dir = ""

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def after_job(self) -> None:
        """Clean up after one timed job (outside its timed region)."""

    def final_check(self, con, results: list) -> list[str]:
        """Checks over all of a run's job outputs, after the timed loop."""
        return []


# ---------------------------------------------------------------------------
# pages: shared pieces of the two pages workloads
# ---------------------------------------------------------------------------

class _Pages(Workload):
    n_pages = 0

    def __init__(self, seed, cores):
        super().__init__(seed, cores)
        self.rows = self.n_pages
        self.salt = cores

    def generate(self, con) -> None:
        """Write the seeded inputs as Parquet under ``self.dir``."""
        inputs.write_pages(con, self.spec, self.path("pages"), 2 * self.cores)
        inputs.write_polygons(self.path("polys"), self.rings)

    def pages(self, spark):
        return spark.read.parquet(self.path("pages"))

    def polys(self, spark):
        return spark.read.parquet(self.path("polys"))

    def sizes(self):
        return {"pages": self.rows, "polygons": len(self.rings),
                "vertices": sum(len(r) for r in self.rings)}

    def scanned_pages(self, spark, tr: Tracer):
        """Time the Parquet scan of the columns the extractor reads, then
        hand the extractor those columns materialized in memory."""
        cols = self.pages(spark).select("url", "text")
        with tr.span("sources.pages", "scan"):
            noop_sink(cols)
        with tr.span(INPUT_LAYER, "pages"):
            return cols.localCheckpoint(eager=True)

    def expected_pip_sql(self, where: str = "true") -> str:
        from zen3geo_spark.operators.spatial_join import pip_refine_sql

        pts = inputs.duckdb_points_sql(self.spec)
        rel = f"(select * from ({pts}) where {where})"
        return (f"with edges as ({inputs.edges_sql(self.rings)}) "
                + pip_refine_sql(rel, "edges"))

    def join_counts(self, tr: Tracer, pts, polys, hot) -> None:
        """Candidates (cell join + bbox filter) and cover rows after the
        hot-cell salt fan-out, from the public join building blocks."""
        from pyspark.sql import functions as F

        from zen3geo_spark.operators.spatial_join import (
            polygon_cover_cells, tag_point_cells,
        )

        cover = polygon_cover_cells(
            polys.select("geom_id", "minx_us", "miny_us", "maxx_us", "maxy_us"),
            PIP_RES)
        flagged = cover.join(hot.select("cell", F.lit(1).alias("_hot")),
                             "cell", "left")
        tr.count("cover_rows", flagged.select(F.sum(
            F.when(F.col("_hot").isNotNull(), F.lit(self.salt))
            .otherwise(F.lit(1)))).collect()[0][0] or 0)
        cand = tag_point_cells(pts, PIP_RES).join(cover, "cell").filter(
            F.col("lat_us").between(F.col("miny_us"), F.col("maxy_us"))
            & F.col("lon_us").between(F.col("minx_us"), F.col("maxx_us")))
        tr.count("candidates", cand.count())
        tr.count("hot_cells", hot.count())


# ---------------------------------------------------------------------------
# pages_uniform: scan + Arrow extract dominate, the join is tiny
# ---------------------------------------------------------------------------

class PagesUniform(_Pages):
    name = "pages_uniform"
    n_pages = 500_000

    def __init__(self, seed, cores):
        super().__init__(seed, cores)
        self.spec = inputs.PagesSpec(seed, self.rows)
        self.rings = inputs.uniform_polygons(seed)

    def hot_cells(self, pages):
        """``find_hot_cells`` over a 2% page sample parsed in the JVM."""
        from pyspark.sql import functions as F

        from zen3geo_spark.functions.geo import extract_first_geotag, micro_from_str
        from zen3geo_spark.operators.spatial_join import find_hot_cells

        lat_s, lon_s = extract_first_geotag(F.col("text"))
        sample = (pages.sample(SAMPLE_FRAC, seed=7)
                  .select(micro_from_str(lat_s).alias("lat_us"),
                          micro_from_str(lon_s).alias("lon_us"))
                  .filter(F.col("lat_us").isNotNull()))
        return find_hot_cells(sample, PIP_RES,
                              hot_threshold(self.rows, self.cores))

    def pip_counts(self, pts, polys, hot) -> list:
        from zen3geo_spark.operators.spatial_join import points_in_polygons

        pip = points_in_polygons(pts, polys, res=PIP_RES, salt_factor=self.salt,
                                 hot_cells=hot, broadcast_polys=True)
        return sorted(tuple(r) for r in pip.groupBy("geom_id").count().collect())

    def job(self, spark):
        from zen3geo_spark.functions.geo import extract_points_arrow

        pages = self.pages(spark)
        pts = extract_points_arrow(pages)
        hot = self.hot_cells(pages).localCheckpoint(eager=True)
        return self.pip_counts(pts, self.polys(spark), hot)

    def expected(self, con) -> list:
        sql = self.expected_pip_sql(inputs.bbox_filter_sql(self.rings))
        rows = con.sql(f"select geom_id, count(*) from ({sql}) "
                       f"group by 1 order by 1").fetchall()
        return [tuple(int(v) for v in r) for r in rows]

    def check(self, con, expected, result) -> list[str]:
        return [] if result == expected else [
            f"per-geom PIP counts {result} != oracle {expected}"]

    def traced(self, spark, tr: Tracer) -> list:
        from zen3geo_spark.functions.geo import cell_encode, extract_points_arrow

        pages = self.scanned_pages(spark, tr)
        with tr.span("functions.geo", "extract"):
            pts = extract_points_arrow(pages).localCheckpoint(eager=True)
        with tr.span("functions.geo", "cell_encode"):
            noop_sink(pts.select(cell_encode("lat_us", "lon_us", PIP_RES)))
        polys = self.polys(spark)
        with tr.span("operators.spatial_join", "hot_cells"):
            hot = self.hot_cells(self.pages(spark)).localCheckpoint(eager=True)
        with tr.span("operators.spatial_join", "refine"):
            out = self.pip_counts(pts, polys, hot)
        with tr.span(COUNTS_LAYER, "counts"):
            self.join_counts(tr, pts, polys, hot)
            tr.count("hits", sum(n for _, n in out))
        return out


# ---------------------------------------------------------------------------
# pages_hotspot: checkpointed pipeline, hot-cell salting, refine kernel
# ---------------------------------------------------------------------------

class PagesHotspot(_Pages):
    name = "pages_hotspot"
    n_pages = 40_000
    grid, spikes = 4, 16

    def __init__(self, seed, cores):
        super().__init__(seed, cores)
        box = inputs.hot_box(seed, PIP_RES)
        self.spec = inputs.PagesSpec(seed, self.rows, hot_box=box)
        self.rings = inputs.hotspot_polygons(seed, box, self.grid, self.spikes)
        self.fp = f"pages_hotspot:{seed}:{self.rows}"
        self.n_roots = 0
        self.last_root = ""
        self.split = (0.0, 0.0)  # (fresh, resumed) seconds of the last job

    def sizes(self):
        return {**super().sizes(), "hot_box": list(self.spec.hot_box)}

    def fingerprint(self, stage: str) -> str:
        return f"{self.fp}|{stage}"

    @staticmethod
    def with_cells(points):
        from pyspark.sql import functions as F

        from zen3geo_spark.functions.geo import cell_encode, cell_parent

        cell = cell_encode(F.col("lat_us"), F.col("lon_us"), CELL_RES)
        return points.select("*", cell.alias("cell"),
                             cell_parent(cell, CELL_RES, PARENT_RES).alias("cell2"))

    @staticmethod
    def rollup_of(cells):
        from pyspark.sql import functions as F

        from zen3geo_spark.functions.geo import cell_parent

        return cells.groupBy(
            cell_parent(F.col("cell"), CELL_RES, ROLLUP_RES).alias("cell6")
        ).agg(F.count("*").alias("n_pages"))

    def hot_cells(self, extracted):
        from zen3geo_spark.operators.spatial_join import find_hot_cells

        return find_hot_cells(extracted.sample(SAMPLE_FRAC, seed=7), PIP_RES,
                              hot_threshold(self.rows, self.cores))

    def pip(self, points, polys, hot):
        from zen3geo_spark.operators.spatial_join import points_in_polygons

        return points_in_polygons(points.select("point_id", "lat_us", "lon_us"),
                                  polys, res=PIP_RES, salt_factor=self.salt,
                                  hot_cells=hot, broadcast_polys=True)

    @staticmethod
    def summarize(extracted, cells, pip, rollup) -> dict:
        """Small, order-free digest of every stage's output table."""
        from pyspark.sql import functions as F

        ext = extracted.agg(F.count("*"), F.sum("point_id"), F.sum("lat_us"),
                            F.sum("lon_us")).collect()[0]
        return {
            "extract": [int(v or 0) for v in ext],
            "cells": sorted([int(r[0]), r[1]] for r in
                            cells.groupBy("cell2").count().collect()),
            "pip": sorted([r[0], r[1]] for r in
                          pip.groupBy("geom_id").count().collect()),
            "rollup": sorted([r[0], r[1]] for r in rollup.collect()),
        }

    def pipeline(self, spark, root: str) -> tuple:
        """extract -> cells -> salted PIP -> rollup, each a resumable
        checkpointed stage under ``root``; returns the stage outputs."""
        from zen3geo_spark.functions.geo import extract_points_arrow
        from zen3geo_spark.plans.checkpoint import CheckpointRunner

        pages, polys = self.pages(spark), self.polys(spark)
        runner = CheckpointRunner(spark, root)
        ext = runner.stage("extract", self.fingerprint("extract"),
                           lambda: extract_points_arrow(pages))
        cells = runner.stage("cells", self.fingerprint("cells"),
                             lambda: self.with_cells(ext), partition_col="cell2")
        pip = runner.stage("pip", self.fingerprint("pip"), lambda: self.pip(
            ext, polys, self.hot_cells(ext).localCheckpoint(eager=True)))
        rollup = runner.stage("rollup", self.fingerprint("rollup"),
                              lambda: self.rollup_of(cells))
        return ext, cells, pip, rollup

    def job(self, spark):
        """A fresh run into an empty root, then a pass over the same root
        that resumes every stage and reads every stage's table. The fresh
        run's tables are summarized by ``check``, after the timed region;
        both sides must agree."""
        import time

        root = self.path(f"ckpt/{self.n_roots}")
        self.n_roots += 1
        self.last_root = root
        t0 = time.monotonic()
        fresh = self.pipeline(spark, root)
        t1 = time.monotonic()
        resumed = self.summarize(*self.pipeline(spark, root))
        self.split = (t1 - t0, time.monotonic() - t1)
        return {"fresh": fresh, "resumed": resumed}

    def after_job(self) -> None:
        import shutil

        for i in range(self.n_roots - 1):
            shutil.rmtree(self.path(f"ckpt/{i}"), ignore_errors=True)

    def expected(self, con) -> dict:
        from zen3geo_spark.functions.geo import cell_id_sql, cell_parent_sql

        pts = inputs.duckdb_points_sql(self.spec)
        con.execute(f"create or replace temp table pts as {pts}")
        cell = cell_id_sql("lat_us", "lon_us", CELL_RES, "duckdb")
        cell2 = cell_parent_sql(cell, CELL_RES, PARENT_RES, "duckdb")
        cell6 = cell_parent_sql(cell, CELL_RES, ROLLUP_RES, "duckdb")
        ext = con.sql("select count(*), sum(point_id), sum(lat_us), sum(lon_us) "
                      "from pts").fetchall()[0]
        return {
            "extract": [int(v) for v in ext],
            "cells": [[int(a), int(b)] for a, b in con.sql(
                f"select {cell2}, count(*) from pts group by 1 order by 1").fetchall()],
            "rollup": [[int(a), int(b)] for a, b in con.sql(
                f"select {cell6}, count(*) from pts group by 1 order by 1").fetchall()],
        }

    def check(self, con, expected, result) -> list[str]:
        errs = []
        if isinstance(result["fresh"], tuple):
            result["fresh"] = self.summarize(*result["fresh"])
        if json.dumps(result["fresh"]) != json.dumps(result["resumed"]):
            errs.append("resumed outputs differ from the fresh run")
        for key in ("extract", "cells", "rollup"):
            if result["fresh"][key] != expected[key]:
                errs.append(f"stage {key} differs from the oracle")
        return errs

    def final_check(self, con, results: list) -> list[str]:
        """Exact checks on the last checkpoint root: the extracted points
        as a set, and the PIP pairs on an id-stratified slice against
        ``pip_refine_sql``; every job's per-geom counts must match."""
        root = self.last_root
        errs = []
        got = f"read_parquet('{root}/extract/data/*.parquet')"
        diff = con.sql(f"select count(*) from ((select point_id, lat_us, lon_us "
                       f"from pts except all select point_id, lat_us, lon_us "
                       f"from {got}) union all (select point_id, lat_us, lon_us "
                       f"from {got} except all select point_id, lat_us, lon_us "
                       f"from pts))").fetchall()[0][0]
        if diff:
            errs.append(f"{diff} extracted points differ from the oracle")
        pip = f"read_parquet('{root}/pip/data/*.parquet')"
        k = self.seed % 8
        want = con.sql(f"select point_id, geom_id from "
                       f"({self.expected_pip_sql(f'point_id % 8 = {k}')}) "
                       f"order by 1, 2").fetchall()
        have = con.sql(f"select point_id, geom_id from {pip} "
                       f"where point_id % 8 = {k} order by 1, 2").fetchall()
        if want != have:
            errs.append(f"PIP pairs on slice {k}/8: {len(have)} != oracle {len(want)}")
        counts = [[int(a), int(b)] for a, b in con.sql(
            f"select geom_id, count(*) from {pip} group by 1 order by 1").fetchall()]
        if any(r["fresh"]["pip"] != counts for r in results):
            errs.append("per-geom PIP counts vary between jobs")
        return errs

    def traced(self, spark, tr: Tracer) -> dict:
        from zen3geo_spark.functions.geo import extract_points_arrow
        from zen3geo_spark.plans.checkpoint import CheckpointRunner

        root = self.path("trace_ckpt")
        pages = self.scanned_pages(spark, tr)
        with tr.span("functions.geo", "extract"):
            pts = extract_points_arrow(pages).localCheckpoint(eager=True)
        with tr.span("functions.geo", "cell_encode"):
            cells_in = self.with_cells(pts).localCheckpoint(eager=True)
        runner = CheckpointRunner(spark, root)
        with tr.span("plans.checkpoint", "write.extract"):
            ext = runner.stage("extract", self.fingerprint("extract"), lambda: pts)
        with tr.span("plans.checkpoint", "write.cells"):
            cells = runner.stage("cells", self.fingerprint("cells"),
                                 lambda: cells_in, partition_col="cell2")
        polys = self.polys(spark)
        with tr.span("operators.spatial_join", "hot_cells"):
            hot = self.hot_cells(ext).localCheckpoint(eager=True)
        with tr.span("operators.spatial_join", "refine"):
            pip_in = self.pip(pts, polys, hot).localCheckpoint(eager=True)
        with tr.span("plans.checkpoint", "write.pip"):
            pip = runner.stage("pip", self.fingerprint("pip"), lambda: pip_in)
        with tr.span("functions.geo", "rollup"):
            rollup_in = self.rollup_of(cells_in).localCheckpoint(eager=True)
        with tr.span("plans.checkpoint", "write.rollup"):
            rollup = runner.stage("rollup", self.fingerprint("rollup"),
                                  lambda: rollup_in)
        n_bytes = n_files = 0
        for d, _, files in os.walk(root):
            for f in files:
                if f.startswith("part-"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(d, f))
        tr.count("ckpt_bytes_written", n_bytes)
        tr.count("ckpt_files_written", n_files)

        def not_resumed():
            raise RuntimeError("checkpoint stage was recomputed on resume")

        resumer = CheckpointRunner(spark, root)
        for stage in CKPT_STAGES:
            with tr.span("plans.checkpoint", f"resume.{stage}"):
                part = "cell2" if stage == "cells" else None
                noop_sink(resumer.stage(stage, self.fingerprint(stage),
                                        not_resumed, partition_col=part))
        with tr.span(COUNTS_LAYER, "counts"):
            self.join_counts(tr, pts, polys, hot)
            tr.count("hits", pip_in.count())
            out = self.summarize(ext, cells, pip, rollup)
        return {"fresh": out, "resumed": out}


# ---------------------------------------------------------------------------
# raster_tiles: overlapping chips + polygon burn, no pages layers at all
# ---------------------------------------------------------------------------

class RasterTiles(Workload):
    name = "raster_tiles"

    def __init__(self, seed, cores):
        super().__init__(seed, cores)
        self.spec = inputs.ScenesSpec(seed, n_scenes=4,
                                      n_band=2, n_y=512, n_x=512,
                                      polys_per_scene=10)
        self.rows = self.spec.n_pixels

    def sizes(self):
        s = self.spec
        return {"pixels": self.rows, "scenes": s.n_scenes, "bands": s.n_band,
                "side": s.n_y, "polygons": s.n_scenes * s.polys_per_scene}

    def generate(self, con) -> None:
        inputs.write_scenes(con, self.spec, self.dir, 2 * self.cores)

    def read(self, spark, name):
        return spark.read.parquet(self.path(name))

    @staticmethod
    def chip(pixels, meta):
        from zen3geo_spark.operators.chipper import assign_chips

        return assign_chips(pixels, meta, CHIP, CHIP, OVERLAP, OVERLAP)

    def burn(self, spark):
        from zen3geo_spark.operators.rasterize import rasterize

        return rasterize(self.read(spark, "canvas"), self.read(spark, "geoms"))

    def label_counts(self, burned, meta):
        """Burned pixels per chip: the burned raster goes through the same
        chipper as the scene pixels."""
        from pyspark.sql import functions as F

        px = burned.select(F.col("canvas_id").alias("scene_id"),
                           F.col("row").alias("y_idx"),
                           F.col("col").alias("x_idx"), "value")
        return self.chip(px, meta).groupBy("scene_id", "chip_id").agg(
            F.count("*").alias("n_label"))

    @staticmethod
    def joined(stats, labels) -> list:
        rows = stats.join(labels, ["scene_id", "chip_id"], "left") \
            .fillna(0, ["n_label"]).collect()
        return sorted((r["scene_id"], r["chip_id"], r["n_px"], r["sum_val"],
                       r["n_label"]) for r in rows)

    def job(self, spark):
        from zen3geo_spark.operators.chipper import chip_stats

        meta = self.read(spark, "meta")
        stats = chip_stats(self.chip(self.read(spark, "pixels"), meta))
        return self.joined(stats, self.label_counts(self.burn(spark), meta))

    def label_mask_rows(self):
        """Independent burn: even-odd test of every pixel centre against
        each scene polygon, in numpy."""
        import numpy as np

        s = self.spec
        sids, ys, xs = [], [], []
        by_scene: dict[int, list] = {}
        for scene, ring in inputs.scene_polygons(s):
            by_scene.setdefault(scene, []).append(np.asarray(ring))
        for scene, rings in by_scene.items():
            mask = np.zeros((s.n_y, s.n_x), dtype=bool)
            for ring in rings:
                # pixel centres of the ring's bbox; row 0 is the north row
                c0 = max(int(ring[:, 0].min()) - 1, 0)
                c1 = min(int(ring[:, 0].max()) + 2, s.n_x)
                r0 = max(s.n_y - int(ring[:, 1].max()) - 2, 0)
                r1 = min(s.n_y - int(ring[:, 1].min()) + 1, s.n_y)
                px, py = np.meshgrid(np.arange(c0, c1) + 0.5,
                                     s.n_y - np.arange(r0, r1) - 0.5)
                px, py = px[..., None], py[..., None]
                x1, y1 = ring[:, 0], ring[:, 1]
                x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
                straddle = (y1 > py) != (y2 > py)
                with np.errstate(divide="ignore", invalid="ignore"):
                    xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
                inside = (np.sum(straddle & (px < xint), axis=2) % 2) == 1
                mask[r0:r1, c0:c1] |= inside
            yy, xx = np.nonzero(mask)
            sids.append(np.full(len(yy), scene))
            ys.append(yy)
            xs.append(xx)
        return np.concatenate(sids), np.concatenate(ys), np.concatenate(xs)

    def _chip_sql(self, rel: str, agg: str) -> str:
        """Floor-division chip assignment of ``rel(scene_id, y_idx, x_idx,
        value)`` in DuckDB, aggregated per (scene, chip)."""
        s, step = self.spec, CHIP - OVERLAP
        ncy = (s.n_y - CHIP) // step + 1
        ncx = (s.n_x - CHIP) // step + 1

        def lo(c):
            return f"greatest(cast(ceil(({c} - {CHIP - 1}) / {float(step)}) as bigint), 0)"

        def hi(c, n):
            return f"least({c} // {step}, {n - 1}) + 1"

        return f"""
        select scene_id, chip_y * {ncx} + chip_x as chip_id, {agg}
        from (select scene_id, value, chip_y,
                     unnest(range({lo('x_idx')}, {hi('x_idx', ncx)})) as chip_x
              from (select scene_id, x_idx, value,
                           unnest(range({lo('y_idx')}, {hi('y_idx', ncy)})) as chip_y
                    from {rel}))
        group by all
        """

    def expected(self, con) -> list:
        import pyarrow as pa

        sid, yy, xx = self.label_mask_rows()
        labels = pa.table({"scene_id": sid.astype("int64"),  # noqa: F841
                           "y_idx": yy.astype("int64"), "x_idx": xx.astype("int64"),
                           "value": pa.nulls(len(sid), pa.float64())})
        con.register("labels", labels)
        px = f"read_parquet('{self.path('pixels')}/*.parquet')"
        stats = self._chip_sql(px, "count(*) as n_px, sum(value) as sum_val")
        lab = self._chip_sql("labels", "count(*) as n_label")
        rows = con.sql(f"""
            select s.scene_id, s.chip_id, s.n_px, s.sum_val,
                   coalesce(l.n_label, 0)
            from ({stats}) s left join ({lab}) l using (scene_id, chip_id)
            order by 1, 2""").fetchall()
        return [(int(a), int(b), int(c), float(d), int(e)) for a, b, c, d, e in rows]

    def check(self, con, expected, result) -> list[str]:
        if result == expected:
            return []
        bad = [(g, w) for g, w in zip(result, expected) if g != w]
        return [f"chip table differs from the oracle: {len(result)} vs "
                f"{len(expected)} rows, first mismatch {bad[:1]}"]

    def traced(self, spark, tr: Tracer) -> list:
        from zen3geo_spark.operators.chipper import chip_stats

        meta = self.read(spark, "meta")
        with tr.span("sources.raster", "scan"):
            noop_sink(self.read(spark, "pixels"))
        with tr.span(INPUT_LAYER, "pixels"):
            px = self.read(spark, "pixels").localCheckpoint(eager=True)
        with tr.span("operators.chipper", "assign"):
            chipped = self.chip(px, meta).localCheckpoint(eager=True)
        with tr.span("operators.chipper", "stats"):
            stats = chip_stats(chipped).localCheckpoint(eager=True)
        with tr.span("operators.rasterize", "burn"):
            burned = self.burn(spark).localCheckpoint(eager=True)
        with tr.span("operators.chipper", "assign_labels"):
            labels = self.label_counts(burned, meta).localCheckpoint(eager=True)
        with tr.span("operators.chipper", "join"):
            out = self.joined(stats, labels)
        with tr.span(COUNTS_LAYER, "counts"):
            tr.count("pixel_rows", px.count())
            tr.count("chip_rows", chipped.count())
            tr.count("pixels_burned", burned.count())
        return out


WORKLOADS = {w.name: w for w in (PagesUniform, PagesHotspot, RasterTiles)}
