"""Zarr-analogue chunked-array store: the engine ``open_asset`` dispatches
for ``engine="zarr_like"``.

The reference reads real Zarr stores through xpystac/xarray
(/root/reference/zen3geo/datapipes/xpystac.py:41-46; the semantics its
test pins are lazy chunk access + shape/dtype from consolidated metadata +
bounds/resolution from the grid —
/root/reference/zen3geo/tests/test_datapipes_xpystac.py:40-70). No zarr
library exists in this container, so this module implements the same
STORAGE MODEL from scratch:

* a store is a directory of fixed-size binary chunk files
  ``c{cy}.{cx}.bin`` (raw little-endian C-order values, zarr's
  uncompressed chunk encoding) plus ONE consolidated-metadata sidecar
  ``.zmeta.json`` (shape, chunk shape, dtype, fill_value, grid affine) —
  zarr's ``.zmetadata``;
* edge chunks are stored full-size, padded with ``fill_value`` past the
  array bounds (zarr's convention); the reader clips by the metadata
  shape;
* reads are LAZY AND PRUNED: the driver plans the exact chunk-file list
  intersecting the requested index bbox from metadata alone — one tiny
  JSON read, no data I/O — and hands only those files to the binaryFile
  scan. On a 10^6-chunk store a small window therefore opens a handful
  of files; ``plan_chunks`` doubles as the files-touched metric.

Scale shape: one chunk file = one Spark task's worth of decode (the
mapInPandas kernel expands each chunk to long-form pixels inside its own
Arrow batch); a window over a petabyte store parallelizes per chunk with
zero shuffle.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession

_DTYPES = {"float32": "<f4", "float64": "<f8", "int32": "<i4", "int64": "<i8",
           "int16": "<i2", "uint8": "|u1"}

META_NAME = ".zmeta.json"


def write_zarr_like_store(path: str, values, chunks: tuple[int, int],
                          grid: tuple[float, float, float],
                          fill_value: float = 0.0) -> dict:
    """Write a 2-D numpy array as a float32 zarr-like chunked store
    (fixture / sink path). ``grid`` = (xmin, ymax, res) of the
    pixel-center lattice, north-up. Returns the consolidated metadata
    dict."""
    import numpy as np

    dtype = "float32"
    os.makedirs(path, exist_ok=True)
    arr = np.asarray(values).astype(_DTYPES[dtype])
    h, w = arr.shape
    ch, cw = chunks
    meta = {"shape": [h, w], "chunks": [ch, cw], "dtype": dtype,
            "fill_value": fill_value,
            "grid": {"xmin": grid[0], "ymax": grid[1], "res": grid[2]},
            "var": "band_data"}
    with open(os.path.join(path, META_NAME), "w") as f:
        json.dump(meta, f, sort_keys=True)
    for cy in range(math.ceil(h / ch)):
        for cx in range(math.ceil(w / cw)):
            block = np.full((ch, cw), fill_value, dtype=_DTYPES[dtype])
            ys, xs = cy * ch, cx * cw
            sub = arr[ys:ys + ch, xs:xs + cw]
            block[: sub.shape[0], : sub.shape[1]] = sub
            with open(os.path.join(path, f"c{cy}.{cx}.bin"), "wb") as f:
                f.write(block.tobytes(order="C"))
    return meta


def read_meta(path: str) -> dict:
    """Consolidated metadata: ONE small JSON read — the only driver-side
    I/O a pruned window scan needs (shape/dtype/bounds come from here,
    never from opening chunks — the laziness the reference test pins)."""
    with open(os.path.join(path, META_NAME)) as f:
        return json.load(f)


def store_info(path: str) -> dict:
    """Shape/dtype/bounds/resolution from metadata alone (the
    ``dataset.sizes`` / ``.dtype`` / ``.rio.bounds()`` / ``.rio.
    resolution()`` assertions of the reference zarr test)."""
    m = read_meta(path)
    h, w = m["shape"]
    g = m["grid"]
    return {
        "sizes": {"y": h, "x": w},
        "dtype": m["dtype"],
        "bounds": (g["xmin"], g["ymax"] - h * g["res"],
                   g["xmin"] + w * g["res"], g["ymax"]),
        "resolution": (g["res"], -g["res"]),
        "n_chunks": math.ceil(h / m["chunks"][0]) * math.ceil(w / m["chunks"][1]),
    }


def plan_chunks(path: str, bbox_idx: tuple[int, int, int, int] | None = None
                ) -> list[str]:
    """Driver-side planning: the chunk files a window needs, from
    metadata only. ``bbox_idx`` = (y0, y1, x0, x1) inclusive pixel-index
    window; None = whole array. This IS the files-touched metric:
    ``len(plan_chunks(p, w)) / store_info(p)['n_chunks']`` is the prune
    ratio."""
    m = read_meta(path)
    h, w = m["shape"]
    ch, cw = m["chunks"]
    if bbox_idx is None:
        y0, y1, x0, x1 = 0, h - 1, 0, w - 1
    else:
        y0, y1, x0, x1 = bbox_idx
        y0, y1 = max(0, y0), min(h - 1, y1)
        x0, x1 = max(0, x0), min(w - 1, x1)
    if y0 > y1 or x0 > x1:
        return []
    out = []
    for cy in range(y0 // ch, y1 // ch + 1):
        for cx in range(x0 // cw, x1 // cw + 1):
            p = os.path.join(path, f"c{cy}.{cx}.bin")
            if os.path.exists(p):  # absent chunk ≙ all-fill (zarr semantics)
                out.append(p)
    return out


def read_zarr_like(spark: SparkSession, path: str,
                   bbox_idx: tuple[int, int, int, int] | None = None
                   ) -> DataFrame:
    """Lazy pruned scan → long-form pixels (y_idx, x_idx, value, x, y).

    Only the chunk files ``plan_chunks`` selects are opened; each decodes
    inside its own task (np.frombuffer + reshape — no per-pixel Python),
    clips to the metadata shape and the requested window, and attaches
    pixel-center world coordinates from the grid affine.
    """
    import re as _re

    import numpy as np
    import pandas as pd

    m = read_meta(path)
    h_arr, w_arr = m["shape"]
    ch, cw = m["chunks"]
    np_dtype = _DTYPES[m["dtype"]]
    g = m["grid"]
    files = plan_chunks(path, bbox_idx)
    if bbox_idx is None:
        y0, y1, x0, x1 = 0, h_arr - 1, 0, w_arr - 1
    else:
        y0, y1, x0, x1 = bbox_idx
    if not files:
        return spark.createDataFrame(
            [], "y_idx int, x_idx int, value double, x double, y double")

    raw = (spark.read.format("binaryFile").load(files)
           .select("path", "content"))

    def decode(batches):
        pat = _re.compile(r"c(\d+)\.(\d+)\.bin$")
        for pdf in batches:
            for p, buf in zip(pdf["path"], pdf["content"]):
                mt = pat.search(p)
                cy, cx = int(mt.group(1)), int(mt.group(2))
                block = np.frombuffer(bytes(buf), dtype=np_dtype).reshape(ch, cw)
                gy = cy * ch + np.arange(ch)
                gx = cx * cw + np.arange(cw)
                ym = (gy >= max(y0, 0)) & (gy <= min(y1, h_arr - 1))
                xm = (gx >= max(x0, 0)) & (gx <= min(x1, w_arr - 1))
                sub = block[np.ix_(ym, xm)]
                yy, xx = np.meshgrid(gy[ym], gx[xm], indexing="ij")
                yield pd.DataFrame({
                    "y_idx": yy.ravel().astype(np.int32),
                    "x_idx": xx.ravel().astype(np.int32),
                    "value": sub.ravel().astype(np.float64),
                    "x": g["xmin"] + (xx.ravel() + 0.5) * g["res"],
                    "y": g["ymax"] - (yy.ravel() + 0.5) * g["res"],
                })

    return raw.mapInPandas(
        decode, schema="y_idx int, x_idx int, value double, x double, y double")
