"""Raster & vector scan sources (RioXarrayReader / PyogrioReader /
XpySTACAssetReader analogues).

The reference reads GeoTIFF/GPKG/FlatGeoBuf/Zarr through GDAL-backed
libraries (/root/reference/zen3geo/datapipes/rioxarray.py:70-74,
pyogrio.py:87-89, xpystac.py:135-139). Those codecs aren't in this
container; the engine's scan substrate is:

* ``scan_tiles`` — a partitioned Parquet long-form tile table
  (scene_id, level, band, y_idx, x_idx, value). ``overview_level``
  (COG pyramid selection, docs/walkthrough.md:142) is a partition-column
  filter → partition pruning, free.
* ``scan_vectors`` — a GeoParquet-style table (geom_id, geom_type, parts,
  bbox cols, crs, attrs) — SURVEY.md §1 row 5.
* ``open_asset`` — XpySTACAssetReader's engine-dispatch: format name →
  the right Spark reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def scan_tiles(spark: SparkSession, path: str,
               overview_level: int | None = None,
               bands: list[int] | None = None) -> DataFrame:
    """Raster scan with pyramid-level partition pruning + band pruning."""
    df = spark.read.parquet(path)
    if overview_level is not None and "level" in df.columns:
        df = df.filter(F.col("level") == overview_level)
    if bands is not None:
        df = df.filter(F.col("band").isin(bands))
    return df


def scan_vectors(spark: SparkSession, path: str,
                 bbox: tuple[float, float, float, float] | None = None) -> DataFrame:
    """Vector scan; bbox predicate prunes on the denormalized bounds
    columns (parquet min/max stats make this a real scan prune)."""
    df = spark.read.parquet(path)
    if bbox is not None:
        qxmin, qymin, qxmax, qymax = bbox
        df = df.filter(
            (F.col("minx") < qxmax) & (F.col("maxx") > qxmin)
            & (F.col("miny") < qymax) & (F.col("maxy") > qymin)
        )
    return df


ENGINES = {"parquet", "json", "csv", "binaryFile", "netpbm", "zarr_like"}


def open_asset(spark: SparkSession, path: str, engine: str = "parquet",
               **options) -> DataFrame:
    """XpySTACAssetReader's engine dispatch (xpystac.py:41-46): the
    ``engine`` kwarg ≙ Spark's format(...) choice. ``engine='netpbm'``
    is the real-decode path: binaryFile scan → NumPy PGM/PPM codec →
    long-form pixel rows (the shape ``scan_tiles`` consumes) — the
    container has no GDAL, so netpbm stands in for the reference's
    rasterio engine with a genuinely decoded format. ``engine='zarr_like'``
    reads the chunked-array store (sources/zarr_like.py — consolidated
    metadata + per-chunk binary, lazy chunk pruning via ``bbox_idx=``),
    the analogue of the reference's zarr engine
    (tests/test_datapipes_xpystac.py:40-70)."""
    if engine not in ENGINES:
        raise ValueError(f"unsupported engine {engine!r}; one of {sorted(ENGINES)}")
    if engine == "netpbm":
        return _read_netpbm_pixels(spark, path)
    if engine == "zarr_like":
        from zen3geo_spark.sources.zarr_like import read_zarr_like

        return read_zarr_like(spark, path, bbox_idx=options.get("bbox_idx"))
    reader = spark.read.format(engine)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def _read_netpbm_pixels(spark: SparkSession, path: str) -> DataFrame:
    """binaryFile → decode every PGM (band 0) / PPM (bands 0-2) asset to
    long-form pixels (asset_id, band, y_idx, x_idx, value). The decode is
    Arrow-batched; each file expands to h·w·bands rows inside its own
    task, so a directory of assets parallelizes per file."""
    import re as _re

    import numpy as np
    import pandas as pd

    raw = (spark.read.format("binaryFile")
           .option("pathGlobFilter", "*.p[gp]m").load(str(path))
           .select("path", "content"))

    def run(batches):
        from zen3geo_spark.operators.multimodal import _parse_netpbm

        for pdf in batches:
            for p, buf in zip(pdf["path"], pdf["content"]):
                m = _re.search(r"(\d+)\.\w+$", p)
                aid = int(m.group(1)) if m else -1
                img = _parse_netpbm(bytes(buf), (b"P5", b"P2", b"P6", b"P3"))
                if img.ndim == 2:
                    img = img[:, :, None]
                h, w, nb = img.shape
                yy, xx, bb = np.meshgrid(np.arange(h), np.arange(w),
                                         np.arange(nb), indexing="ij")
                yield pd.DataFrame({
                    "asset_id": np.full(h * w * nb, aid, dtype=np.int64),
                    "band": bb.ravel().astype(np.int32),
                    "y_idx": yy.ravel().astype(np.int32),
                    "x_idx": xx.ravel().astype(np.int32),
                    "value": img.ravel(),
                })

    return raw.mapInPandas(
        run, schema="asset_id long, band int, y_idx int, x_idx int, value double")


N_SIDECAR_ITEMS = 20


def write_stac_sidecar_assets(asset_dir) -> None:
    """Deterministic STAC-sidecar fixtures for the engine dispatch:
    ``items.jsonl`` (one STAC-item-ish record per line — the json engine)
    and ``pixels.csv`` (a per-item pixel table — the csv engine).
    Mirrors the reference's multi-engine asset readout
    (``/root/reference/zen3geo/datapipes/xpystac.py:41-46``, engines
    exercised in ``tests/test_datapipes_xpystac.py:11-102``); formulas
    are integer-deterministic so a pure-SQL oracle can regenerate them
    without reading the files."""
    import json as _json
    import pathlib

    d = pathlib.Path(asset_dir)
    d.mkdir(parents=True, exist_ok=True)
    with open(d / "items.jsonl", "w") as f:
        for i in range(N_SIDECAR_ITEMS):
            f.write(_json.dumps({
                "item_id": i,
                "collection": f"c{i % 3}",
                "lat_us": (i * 5_000_003) % 180_000_001 - 90_000_000,
                "lon_us": (i * 9_000_007) % 360_000_001 - 180_000_000,
            }, sort_keys=True) + "\n")
    with open(d / "pixels.csv", "w") as f:
        f.write("item_id,px,v\n")
        for i in range(N_SIDECAR_ITEMS):
            for j in range(10 + i % 5):
                f.write(f"{i},{j},{(i * 11 + j * 17) % 256}\n")
