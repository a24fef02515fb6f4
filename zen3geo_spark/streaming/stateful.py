"""Custom stateful streaming operator: running per-key totals via
applyInPandasWithState.

The reference is batch-only; this is the engine's answer for stream
semantics that windows can't express — arbitrary per-key state carried
across micro-batches AND across separate incremental (availableNow) runs
through the state store in the checkpoint directory. The update function
is Arrow-batched pandas (no per-row Python), the state is a single
counters row per key.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")

_OUT = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("total_value", DoubleType()),
])
_STATE = StructType([
    StructField("n_events", LongType()),
    StructField("total_value", DoubleType()),
])


def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                        "total_value": [total]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (n_events, total_value); on a stream each
    micro-batch emits the updated totals for the users it touched."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update, outputStructType=_OUT, stateStructType=_STATE,
        outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful(spark: SparkSession, events_dir: str, out_dir: str,
                 checkpoint_dir: str) -> None:
    """availableNow incremental driver: processes only new files; state
    persists in the checkpoint state store, so a later run CONTINUES the
    running totals. Each micro-batch's updates append to ``out_dir`` with
    a batch id; the current totals are the row with the highest batch id
    per user."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)
    updates = running_user_totals(stream)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F
        (batch_df.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_dir))

    q = (updates.writeStream.foreachBatch(sink)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("update")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def latest_totals(spark: SparkSession, out_dir: str) -> DataFrame:
    """Current running totals: last emitted row per user."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.read.parquet(out_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("batch_id").desc())
    return (df.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("user_id", "n_events", "total_value"))


# ---------------------------------------------------------------------------
# streaming exact dedup: keep the FIRST document per content fingerprint,
# across micro-batches AND across separate availableNow runs (the crawl-feed
# dedup shape: state = fingerprints already admitted)
# ---------------------------------------------------------------------------

DOCS_STREAM_SCHEMA = "doc_id long, text string"

_DEDUP_OUT = StructType([
    StructField("fp", StringType()),
    StructField("keep_id", LongType()),
])
_DEDUP_STATE = StructType([StructField("seen", LongType())])


def _dedup_update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    if state.exists:
        for _ in pdfs:  # drain: fingerprint already admitted earlier
            pass
        return
    keep = None
    for pdf in pdfs:
        m = int(pdf["doc_id"].min())
        keep = m if keep is None else min(keep, m)
    state.update((1,))
    yield pd.DataFrame({"fp": [key[0]], "keep_id": [keep]})


def streaming_dedup_keep_first(docs: DataFrame) -> DataFrame:
    """Per-fingerprint first-seen filter: emits (fp, keep_id) exactly once
    per distinct normalized content — the streaming twin of
    ``operators.dedup.dedup_exact`` (same fingerprint function). State is
    one row per fingerprint in the checkpoint state store, so later runs
    admit only genuinely new content."""
    from zen3geo_spark.functions.text import fingerprint
    from pyspark.sql import functions as F

    d = docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    return d.groupBy("fp").applyInPandasWithState(
        _dedup_update, outputStructType=_DEDUP_OUT, stateStructType=_DEDUP_STATE,
        outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_streaming_dedup(spark: SparkSession, docs_dir: str, out_dir: str,
                        checkpoint_dir: str) -> None:
    """availableNow incremental dedup: each run appends the NEWLY admitted
    (fp, keep_id) rows to ``out_dir``; previously seen fingerprints emit
    nothing."""
    stream = spark.readStream.schema(DOCS_STREAM_SCHEMA).parquet(docs_dir)
    admitted = streaming_dedup_keep_first(stream)
    q = (admitted.writeStream
         .format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


# ---------------------------------------------------------------------------
# streaming minhash-LSH near-dup candidates: each (band, bucket) keeps ONE
# anchor doc in state; later arrivals in the same bucket emit (anchor, doc)
# candidate pairs — the streaming twin of
# ``operators.dedup.minhash_lsh_candidates``, with deliberately LINEAR
# state/output (one anchor per bucket instead of the batch version's full
# in-bucket pairing): on an unbounded crawl feed, quadratic in-bucket
# pairing is unbounded; anchor pairing still links every near-dup group
# through its anchor, and the batch verify/connected-components stages
# recover the full clusters downstream.
# ---------------------------------------------------------------------------

_LSH_OUT = StructType([
    StructField("a_id", LongType()),
    StructField("b_id", LongType()),
])
_LSH_STATE = StructType([StructField("anchor", LongType())])


def _lsh_update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    ids: list[int] = []
    for pdf in pdfs:
        ids.extend(int(v) for v in pdf["doc"])
    ids = sorted(set(ids))
    if not ids:
        return
    if state.exists:
        (anchor,) = state.get
    else:
        anchor = ids[0]
        state.update((anchor,))
    pairs = [(anchor, i) for i in ids if i != anchor]
    if pairs:
        yield pd.DataFrame({"a_id": [p[0] for p in pairs],
                            "b_id": [p[1] for p in pairs]})


# Minhash length, LSH bands and shingle width of the stream path.
LSH_HASHES, LSH_BANDS, LSH_SHINGLE = 16, 4, 3


def streaming_lsh_candidates(docs: DataFrame) -> DataFrame:
    """Near-dup CANDIDATE pairs on a document stream: minhash signature
    and band buckets from the batch path's kernels (``minhash_table_pd``,
    a ``mapInPandas`` that runs on a stream, then ``band_rows``) →
    per-bucket anchor state → (a_id, b_id) with a = the bucket's
    first-ever doc. Pairs may repeat across bands/batches; downstream
    dedups with the same ``distinct()`` the batch pipeline uses. State:
    ONE long per non-empty bucket, across micro-batches and availableNow
    runs."""
    from zen3geo_spark.operators.dedup import band_rows, minhash_table_pd

    sig = minhash_table_pd(docs, num_hashes=LSH_HASHES, shingle_n=LSH_SHINGLE)
    banded = band_rows(sig, LSH_HASHES, LSH_BANDS)
    return banded.groupBy("band", "bucket").applyInPandasWithState(
        _lsh_update, outputStructType=_LSH_OUT, stateStructType=_LSH_STATE,
        outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_streaming_lsh(spark: SparkSession, docs_dir: str, out_dir: str,
                      checkpoint_dir: str) -> None:
    """availableNow incremental near-dup candidates: each run appends the
    newly discovered (a_id, b_id) pairs; bucket anchors persist in the
    state store, so a doc arriving in a LATER run still pairs against the
    first run's anchor."""
    stream = spark.readStream.schema(DOCS_STREAM_SCHEMA).parquet(docs_dir)
    cand = streaming_lsh_candidates(stream)
    q = (cand.writeStream
         .format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
