"""Hilbert-curve cell index — the true S2-style space-filling curve.

Complements :mod:`.zorder`: the Morton curve is pure bit-interleave (fully
JVM-codegen-able) but has two long "jumps" per quadrant level; the Hilbert
curve is fully continuous, so consecutive ids are always spatially
adjacent — strictly better range-scan locality (what Google S2 uses for
its cell ids).  The rotation step makes it state-carrying per bit, so
there is no carry-free bit-parallel form: the Spark side runs a
vectorized numpy kernel in an Arrow-batched ``pandas_udf`` (one Python
node, amortized over whole batches), and the DuckDB oracle runs the SAME
per-level recurrence as a **recursive CTE** — cross-engine verification
of an iterative algorithm without any Python on the oracle side.

Hierarchy note: like S2, the level-``L`` prefix property holds —
``d_res // 4^(res-L)`` IS the level-``L`` Hilbert index of the ancestor
cell, so parent/rollup is the same integer divide as the Morton index.

Algorithm: the classic xy→d loop (public domain, e.g. Wikipedia
"Hilbert curve", converted from Warren's Hacker's Delight treatment).
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .geo import cell_ix_sql, cell_iy_sql, col_div, point_iy_ix, sql_int_div

MAX_HRES = 26


def hilbert_d_np(iy, ix, res: int):
    """Vectorized xy→d on the level-``res`` Hilbert curve (int64 arrays).

    The level-1 curve visits (0,0) (1,0) (1,1) (0,1) in d order —
    continuous, unlike Morton's (0,0) (1,0) (0,1) (1,1) jump:

    >>> list(hilbert_d_np([0, 1, 1, 0], [0, 0, 1, 1], 1))
    [0, 1, 2, 3]
    """
    x = np.asarray(ix, dtype=np.int64).copy()
    y = np.asarray(iy, dtype=np.int64).copy()
    d = np.zeros_like(x)
    n = np.int64(1) << res
    s = n >> 1
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant: where ry==0 → (optional flip) then swap x/y
        flip = (ry == 0) & (rx == 1)
        x = np.where(flip, n - 1 - x, x)
        y = np.where(flip, n - 1 - y, y)
        swap = ry == 0
        x, y = np.where(swap, y, x), np.where(swap, x, y)
        s >>= 1
    return d


def hilbert_encode(lat_micro: Column | str, lon_micro: Column | str, res: int) -> Column:
    """Spark Column: Hilbert cell id from micro-degree ints. The grid
    (row, col) comes from the shared JVM index; the Arrow-batched numpy
    kernel only walks the curve."""
    if res > MAX_HRES:
        raise ValueError(f"res {res} exceeds MAX_HRES {MAX_HRES}")

    @pandas_udf("long")
    def _h(iy: pd.Series, ix: pd.Series) -> pd.Series:
        # null-propagate like the JVM cell/zorder paths: compute on
        # 0-filled copies, then mask the output back to null
        bad = iy.isna().to_numpy() | ix.isna().to_numpy()
        out = pd.Series(hilbert_d_np(iy.fillna(0).to_numpy(np.int64),
                                     ix.fillna(0).to_numpy(np.int64), res),
                        dtype="Int64")
        out[bad] = pd.NA
        return out

    return _h(*point_iy_ix(lat_micro, lon_micro, res))


def hilbert_parent(d: Column | str, res: int, parent_res: int) -> Column:
    """Ancestor id at ``parent_res`` — S2 prefix property, one divide."""
    if parent_res > res:
        raise ValueError(f"parent_res {parent_res} must be <= res {res}")
    d = F.col(d) if isinstance(d, str) else d
    return col_div(d, 1 << (2 * (res - parent_res)))


def hilbert_cte_sql(points_rel: str, id_col: str, lat_micro: str,
                    lon_micro: str, res: int) -> str:
    """Recursive-CTE twin of :func:`hilbert_d_np` (DuckDB oracle).

    Carries ``(id, x, y, d, s)`` and applies one curve level per
    recursion step, ``s`` halving from 2^(res-1) to 0; the ``s = 0`` rows
    hold the finished ids.  Yields a relation ``(id_col, hd)``.
    """
    dv = sql_int_div("duckdb")
    n = 1 << res
    return f"""
    hseed as (
      select {id_col},
             {cell_ix_sql(lon_micro, res, "duckdb")} as x,
             {cell_iy_sql(lat_micro, res, "duckdb")} as y,
             cast(0 as bigint) as d,
             cast({n >> 1} as bigint) as s
      from {points_rel}
    ),
    hloop({id_col}, x, y, d, s) as (
      select * from hseed
      union all
      select {id_col},
             case when (y & s) = 0
                  then (case when (x & s) > 0 then {n - 1} - y else y end)
                  else x end as x,
             case when (y & s) = 0
                  then (case when (x & s) > 0 then {n - 1} - x else x end)
                  else y end as y,
             d + s * s * (case when (x & s) > 0
                               then (case when (y & s) > 0 then 2 else 3 end)
                               else (case when (y & s) > 0 then 1 else 0 end)
                          end) as d,
             s{dv}2 as s
      from hloop where s > 0
    ),
    hcells as (select {id_col}, d as hd from hloop where s = 0)
    """
