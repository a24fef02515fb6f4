"""Z-order (Morton) space-filling-curve cell index + bbox -> z-range scans.

Why this exists at 100 TB: the plain quad cell id (``geo.cell_encode``)
numbers cells row-major, so a bbox predicate touches O(height) disjoint id
ranges — useless for range pruning.  The Morton curve interleaves the y/x
bits, so spatially adjacent cells get numerically adjacent ids and any
bbox decomposes into a SMALL set of contiguous id ranges.  Sorting /
range-partitioning a 10^12-row pages table by ``z`` turns every spatial
bbox query into parquet row-group pruning + a handful of BETWEEN
predicates — the same trick Delta Lake's ``OPTIMIZE ZORDER BY`` and
(hierarchy aside) Google S2's cell-id ranges use.  All encode math is
pure bigint arithmetic (multiply / integer-divide / bitwise AND-OR), so
it runs inside WholeStageCodegen on the JVM with a character-identical
DuckDB oracle twin — no Python in the hot path.

Reference parity: zen3geo has no cell index of its own; this generalizes
the role its xbatcher/datashader grids play (``/root/reference/zen3geo/
datapipes/xbatcher.py:63-88``, ``datashader.py:283-290``) to a global
web-page corpus, per BASELINE.json's north rule (H3/S2 cell-encode).

Portable-SQL note: left-shift is written ``* 2^n`` and right-shift
``div 2^n`` (via :func:`zen3geo_spark.functions.geo.sql_int_div`) because
Spark SQL lacks ``<<`` and DuckDB lacks ``shiftleft``; both share ``&``
and ``|`` on BIGINT.  The grid indexes come from :mod:`.geo`, which owns
the grid, so ``z`` and the quad ``cell`` always agree on a point's square.
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .geo import (
    cell_ix_sql, cell_iy_sql, col_div, point_iy_ix, point_iy_ix_py, sql_int_div,
)

# bit-spread magic masks: value < 2^26 -> even bit positions of a < 2^52 word
# (classic "interleave by binary magic numbers" — public-domain bit-twiddling)
_SPREAD = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]
# bits kept per axis (the first spread mask confines each index to them):
# z < 2^52, so ids and range bounds stay exact even where a consumer holds
# them as doubles (pandas, JSON)
MAX_ZRES = 26


def _spread_sql(e: str) -> str:
    """SQL: spread the low 26 bits of ``e`` onto even bit positions."""
    # first mask confines the input so the widening multiplies cannot
    # carry into a neighbour's lane
    out = f"(({e}) & {(1 << MAX_ZRES) - 1})"
    for shift, mask in _SPREAD:
        # x = (x | (x << shift)) & mask   with << as * 2^shift
        out = f"((({out}) | (({out}) * {1 << shift})) & {mask})"
    return out


def zorder_sql(lat_micro: str, lon_micro: str, res: int, engine: str) -> str:
    """Morton id at ``res`` from micro-degree ints — one SQL expression.

    Same grid indexes as the quad ``cell``; only the numbering differs.
    """
    if res > MAX_ZRES:
        raise ValueError(f"res {res} exceeds MAX_ZRES {MAX_ZRES}")
    iy = cell_iy_sql(lat_micro, res, engine)
    ix = cell_ix_sql(lon_micro, res, engine)
    return f"(({_spread_sql(ix)}) | (({_spread_sql(iy)}) * 2))"


def with_zorder(df, lat_micro: str, lon_micro: str, res: int):
    """Add the Morton-id column ``z`` via CHAINED projections — the one
    Spark path (``zorder_sql`` is its SQL twin, ``_morton_py`` its Python
    kernel).

    A single Column expression would duplicate the sub-tree at every
    spread step (2^5 copies): Catalyst analysis goes quadratic and the
    fused expression overflows whole-stage codegen's method-size budget
    into interpreted eval.  Chaining ``withColumn`` keeps each step a
    named intermediate computed ONCE — CollapseProject refuses to
    re-inline a non-cheap alias referenced twice (SPARK-36718), so the
    executed plan stays one codegen'd Project with local-variable reuse.
    """
    if res > MAX_ZRES:
        raise ValueError(f"res {res} exceeds MAX_ZRES {MAX_ZRES}")
    zy, zx = "__z_y", "__z_x"
    iy, ix = point_iy_ix(lat_micro, lon_micro, res)
    mask = F.lit((1 << MAX_ZRES) - 1)
    df = df.withColumns({zy: iy.bitwiseAND(mask), zx: ix.bitwiseAND(mask)})
    for shift, mask in _SPREAD:
        df = df.withColumns({
            c: F.col(c).bitwiseOR(F.col(c) * F.lit(1 << shift))
                .bitwiseAND(F.lit(mask))
            for c in (zy, zx)
        })
    return (df.withColumn("z", F.col(zx).bitwiseOR(F.col(zy) * F.lit(2))
                          .cast("long"))
            .drop(zy, zx))


def zorder_parent(z: Column | str, res: int, parent_res: int) -> Column:
    """Coarser Morton id: drop 2 bits per resolution step (contiguous
    children — parent p covers exactly [p * 4^k, (p+1) * 4^k))."""
    if parent_res > res:
        raise ValueError(f"parent_res {parent_res} must be <= res {res}")
    z = F.col(z) if isinstance(z, str) else z
    return col_div(z, 1 << (2 * (res - parent_res)))


def zorder_parent_sql(z: str, res: int, parent_res: int, engine: str) -> str:
    d = sql_int_div(engine)
    return f"(({z}){d}{1 << (2 * (res - parent_res))})"


# ---------------------------------------------------------------------------
# bbox -> contiguous z ranges (driver-side planning, O(max_ranges) work)
# ---------------------------------------------------------------------------

def _morton_py(iy: int, ix: int, res: int) -> int:
    """Pure-Python Morton interleave (bit-parity twin of ``with_zorder``
    and ``zorder_sql``).

    >>> _morton_py(0, 0, 4)
    0
    >>> _morton_py(1, 0, 4)      # y bit lands on the odd position
    2
    >>> _morton_py(0b11, 0b01, 4)    # x=01 -> 0b0001, y=11 -> 0b1010
    11
    """
    def spread(v: int) -> int:
        v &= (1 << MAX_ZRES) - 1
        for shift, mask in _SPREAD:
            v = (v | (v << shift)) & mask
        return v

    _ = res
    return spread(ix) | (spread(iy) << 1)


def z_ranges_for_bbox(
    min_lat_micro: int,
    min_lon_micro: int,
    max_lat_micro: int,
    max_lon_micro: int,
    res: int,
    max_ranges: int = 64,
) -> list[tuple[int, int]]:
    """Cover a bbox with <= ``max_ranges`` contiguous Morton-id ranges.

    Quadtree descent: a node whose square lies fully inside the bbox emits
    its whole contiguous z-interval; a node that intersects partially
    splits into 4 children; disjoint nodes are dropped.  The descent stops
    refining (emitting slightly-loose covers) when the budget would be
    exceeded — callers must keep an exact refine predicate after the range
    scan, exactly like S2's ``RegionCoverer`` + containment re-check.
    Returned ranges are sorted and adjacent ones merged, so a 10^12-row
    scan becomes ``len(ranges)`` BETWEEN pushdown predicates.
    """
    iy0, ix0 = point_iy_ix_py(min_lat_micro, min_lon_micro, res)
    iy1, ix1 = point_iy_ix_py(max_lat_micro, max_lon_micro, res)

    out: list[tuple[int, int]] = []
    # stack of (level, iy_base, ix_base): a node at `level` spans
    # 2^(res-level) grid rows/cols and 4^(res-level) consecutive z values
    stack = [(0, 0, 0)]
    while stack:
        level, ny, nx = stack.pop()
        span = 1 << (res - level)
        y_lo, y_hi = ny * span, ny * span + span - 1
        x_lo, x_hi = nx * span, nx * span + span - 1
        if y_hi < iy0 or y_lo > iy1 or x_hi < ix0 or x_lo > ix1:
            continue
        full = y_lo >= iy0 and y_hi <= iy1 and x_lo >= ix0 and x_hi <= ix1
        # splitting replaces this node with 4 children (net +3 pending
        # entries); emit instead whenever that would let the eventual
        # range count exceed the budget, so len(out)+len(stack) — an
        # upper bound on total emissions — never passes max_ranges
        if full or level == res or len(out) + len(stack) + 3 > max_ranges:
            z0 = _morton_py(y_lo, x_lo, res)
            out.append((z0, z0 + span * span - 1))
            continue
        for dy in (1, 0):
            for dx in (1, 0):
                stack.append((level + 1, ny * 2 + dy, nx * 2 + dx))
    out.sort()
    merged: list[tuple[int, int]] = []
    for lo, hi in out:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    # hard post-split clamp: the in-descent budget check is a heuristic
    # (emissions can beat the len(out)+len(stack) bound by a couple when
    # the stack drains unevenly), but the CONTRACT is <= max_ranges.
    # Coalesce the closest-gap adjacent pairs — the cover only loosens
    # (callers always re-check containment after the range scan), never
    # loses a cell.
    while len(merged) > max_ranges:
        gi = min(range(len(merged) - 1),
                 key=lambda i: merged[i + 1][0] - merged[i][1])
        merged[gi:gi + 2] = [(merged[gi][0], merged[gi + 1][1])]
    return merged


def z_range_predicate(z: Column | str, ranges: list[tuple[int, int]]) -> Column:
    """OR of BETWEENs — Catalyst pushes each conjunct to the parquet scan."""
    z = F.col(z) if isinstance(z, str) else z
    pred = F.lit(False)
    for lo, hi in ranges:
        pred = pred | z.between(F.lit(lo), F.lit(hi))
    return pred


def optimize_zorder(df, path: str, res: int = 12,
                    n_files: int | None = None):
    """``OPTIMIZE ZORDER BY`` for a (lat_us, lon_us) table: add the
    Morton id ``z``, RANGE-partition on it (contiguous z-intervals per
    output file, so parquet min/max footer stats are tight), sort within
    partitions (tight row-group stats), write, and return the read-back
    frame.

    This is the data-layout half of the bbox range-scan story: after
    this write, any bbox compiles (``z_ranges_for_bbox``) to a handful
    of BETWEENs that prune at BOTH the file level (footer min/max) and
    the row-group level — on a 10^12-row table the scan touches only
    the files whose z-interval intersects the query ranges.  Same idea
    as Delta Lake's ``OPTIMIZE ZORDER BY``, expressed as plain
    DataFrame ops + parquet.
    """
    spark = df.sparkSession
    if n_files is None:
        n_files = max(spark.sparkContext.defaultParallelism, 8)
    zdf = with_zorder(df, "lat_us", "lon_us", res)
    (zdf.repartitionByRange(n_files, "z").sortWithinPartitions("z")
        .write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)


def files_touched(df) -> int:
    """Number of distinct parquet files a (filtered) scan actually
    reads — the file-level-pruning metric for layout tests."""
    from pyspark.sql import functions as _F

    return df.select(_F.input_file_name()).distinct().count()
