"""Cell-bucketed table layout: the shuffle-free co-located join path.

At 100 TB the dominant cost of repeated spatial work (PIP refine, kNN
ring lookups, per-cell tile rollups, snapshot deltas) is re-shuffling the
point corpus on its cell key for every query. Writing the corpus ONCE as
a bucketed table (``bucketBy(cell)`` + ``sortBy``) pins rows to buckets
by hash(cell); any later equi-join or aggregation on the cell key between
two tables bucketed the same way runs with ZERO Exchange in the plan —
Spark reads matching buckets side by side. This is the lakehouse
equivalent of the reference pipeline's per-chip locality (zen3geo keeps a
chip's pixels together in one xarray object; we keep a cell's pages
together in one bucket), re-expressed as a storage-layout contract the
optimizer can exploit.

Plan-gated in ``tests/test_plans.py`` (join of two co-bucketed tables
must contain no Exchange node).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, key: str, *,
                   buckets: int = 16) -> None:
    """Persist ``df`` as a parquet table (overwriting it) bucketed and
    sorted by ``key``. Bucket metadata lives in the catalog, so readers
    joining on ``key`` skip the shuffle; ``sortBy`` additionally removes
    the sort stage of a sort-merge join."""
    (df.write.mode("overwrite").format("parquet")
     .bucketBy(buckets, key).sortBy(key).saveAsTable(table))


def colocated_join(spark: SparkSession, left_table: str, right_table: str,
                   key: str) -> DataFrame:
    """Join two same-bucketed tables on their bucket key. With equal
    bucket counts the physical plan is a shuffle-free (and, with sorted
    buckets, sort-free) merge join regardless of table size — the plan
    shape that survives a 1000-executor 100 TB run."""
    return spark.table(left_table).join(spark.table(right_table), key, "inner")
