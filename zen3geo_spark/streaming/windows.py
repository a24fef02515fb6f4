"""Event-time windowed aggregation: tumbling windows + session windows.

The reference is batch-only (no watermark/state anywhere under
/root/reference/zen3geo/), but the engine's stream surface treats its
pipelines as one transform with two drivers (SURVEY.md §2.3): each function
here takes a DataFrame that may be a batch scan OR a ``readStream`` source.
On a stream, add ``with_watermark_ts`` so state for late windows is
dropped; in batch the same plan is a plain hash aggregate.

Tumbling windows use ``F.window`` (epoch-aligned, half-open [start, end));
session windows use ``F.session_window`` (gap-merged per key, window end =
last event + gap). Both are oracle-checkable: epoch-floor arithmetic and
the classic lag/cumsum gaps-and-islands rewrite produce identical rows.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _source_dir(path: str) -> str:
    """``FileStreamSource`` lists a DIRECTORY: when ``path`` is a single
    parquet file (as each table of the test data is), a per-path
    directory under /tmp holding one symlink to it stands in — the file
    itself is never copied."""
    if not os.path.isfile(path):
        return path
    tag = hashlib.md5(path.encode()).hexdigest()[:12]
    src_dir = f"/tmp/zen3geo_stream_src_{tag}"
    os.makedirs(src_dir, exist_ok=True)
    link = os.path.join(src_dir, "part-0.parquet")
    if not os.path.lexists(link):
        os.symlink(path, link)
    return src_dir


def _run_to_memory(spark, stream: DataFrame, name: str, mode: str):
    """Run ``stream`` into the memory sink ``name`` under ``availableNow``
    (stopping a running query of that name first) and return the sink's
    table. The sink keeps its rows in the session's memory, not in the
    checkpoint, so the checkpoint is a temporary directory removed once
    the query ends."""
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    with tempfile.TemporaryDirectory(prefix="zen3geo_ckpt_") as ckpt:
        (stream.writeStream.format("memory").queryName(name)
         .outputMode(mode)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start()
         .awaitTermination())
    return spark.table(name)


def with_watermark_ts(events: DataFrame, watermark: str = "2 hours",
                      ts_col: str = "ts") -> DataFrame:
    """Streaming late-data bound; a no-op marker for batch DataFrames."""
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark)
    return events


def tumbling_event_stats(events: DataFrame, window: str = "6 hours",
                         ts_col: str = "ts") -> DataFrame:
    """Per-(window, event_type) count / value sum / mean of props.k.

    Same plan for batch and streaming input (pass through
    ``with_watermark_ts`` first on a stream).
    """
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        events.groupBy(F.window(F.col(ts_col), window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.avg(k), 6).alias("avg_k"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n", "sum_value", "avg_k",
        )
    )


def session_stats(events: DataFrame, gap: str = "30 minutes",
                  ts_col: str = "ts", key_col: str = "user_id") -> DataFrame:
    """Per-user session windows (gap-merged): events closer than ``gap``
    to the previous event share a session. Output keyed by the session's
    first event time; ``session_last`` is the last event (Spark's
    session_window end minus the gap)."""
    w = F.session_window(F.col(ts_col), gap).alias("w")
    return (
        events.groupBy(w, F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.max(ts_col).alias("session_last"),
        )
        .select(
            F.col(key_col),
            F.col("w.start").alias("session_start"),
            "session_last", "n_events", "sum_value",
        )
    )


def run_windowed_stream(spark, events_dir: str, out_dir: str,
                        checkpoint_dir: str, window: str = "6 hours",
                        watermark: str = "2 hours") -> None:
    """availableNow incremental driver for ``tumbling_event_stats``; each
    invocation processes only new files and stops (offset log = resume
    token). Append mode emits a window once its watermark passes — the
    trailing open windows surface on the next run with more data."""
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    stream = spark.readStream.schema(schema).parquet(events_dir)
    result = tumbling_event_stats(with_watermark_ts(stream, watermark), window)
    q = (
        result.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_tumbling_to_memory(spark, events_path: str,
                              window: str = "6 hours",
                              name: str = "stream_tumbling_out"):
    """Run :func:`tumbling_event_stats` through the REAL streaming engine
    (``readStream`` → complete-mode memory sink, ``availableNow``) over a
    bounded input and return the emitted result table — so the streaming
    micro-batch path itself (not just the shared transform) can be
    value-hash-checked against the batch SQL oracle: on a bounded input,
    complete mode must emit exactly the batch aggregate.

    Complete mode keeps all window state (no watermark eviction), which
    is what makes the comparison exact; the append-mode + watermark
    production path is exercised by :func:`run_windowed_stream` and its
    resume tests. Memory sink is driver-sized: the OUTPUT here is
    windows × event_types (tiny), never the event stream.

    A single parquet file is streamed through a symlink directory
    (:func:`_source_dir`).
    """
    schema = spark.read.parquet(events_path).schema
    stream = spark.readStream.schema(schema).parquet(_source_dir(events_path))
    return _run_to_memory(spark, tumbling_event_stats(stream, window), name,
                          "complete")


def windowed_anomaly(events: DataFrame, window: str = "6 hours",
                     trail: int = 4, factor: int = 2,
                     ts_col: str = "ts",
                     key_col: str = "event_type") -> DataFrame:
    """Volume-spike detection per key: count events in tumbling windows,
    compare each window against the mean of the previous ``trail``
    OBSERVED windows for that key (row frame, so gaps don't dilute the
    baseline), flag windows at >= ``factor``× the trailing mean — the
    crawl-ops anomaly monitor (a host suddenly flooding the frontier, a
    selector bursting).

    Returns ``(key, window_start, n, trail_avg, is_spike)``; the first
    ``trail``-less windows carry a NULL baseline and are never flagged.

    Scale shape: one windowed count (map-side combinable; key × window
    cardinality, not event cardinality) then a per-key ordered frame
    over that SMALL aggregate — the window partition is the per-key
    window count, never the event stream. The integer spike compare
    (``n * denom >= factor * sum``) avoids FP, so the flag is
    cross-engine exact; ``trail_avg`` is rounded only for display.
    """
    counts = (events
              .groupBy(F.window(F.col(ts_col), window).alias("w"),
                       F.col(key_col).alias("key"))
              .agg(F.count("*").alias("n"))
              .select("key", F.col("w.start").alias("window_start"), "n"))
    from pyspark.sql import Window as W
    frame = (W.partitionBy("key").orderBy("window_start")
             .rowsBetween(-trail, -1))
    return (counts
            .withColumn("_ts", F.sum("n").over(frame))
            .withColumn("_tc", F.count("n").over(frame))
            .select(
                "key", "window_start", "n",
                F.when(F.col("_tc") > 0,
                       F.round(F.col("_ts") / F.col("_tc"), 6))
                .alias("trail_avg"),
                F.when((F.col("_tc") > 0)
                       & (F.col("n") * F.col("_tc")
                          >= F.lit(factor) * F.col("_ts")),
                       F.lit(1)).otherwise(F.lit(0)).alias("is_spike")))


def windowed_anomaly_sql_duckdb(rel: str, window_sec: int = 21600,
                                trail: int = 4, factor: int = 2,
                                ts_col: str = "ts",
                                key_col: str = "event_type") -> str:
    """DuckDB twin of :func:`windowed_anomaly` (same epoch-floor window,
    same row frame, same integer spike compare)."""
    return f"""
with counts as (
  select {key_col} as key,
         TIMESTAMP '1970-01-01 00:00:00'
           + to_seconds(cast(floor(epoch({ts_col}) / {window_sec})
                             * {window_sec} as bigint)) as window_start,
         count(*) as n
  from {rel} group by 1, 2
),
trailed as (
  select key, window_start, n,
         sum(n) over (partition by key order by window_start
                      rows between {trail} preceding and 1 preceding) as ts,
         count(n) over (partition by key order by window_start
                        rows between {trail} preceding and 1 preceding) as tc
  from counts
)
select key, window_start, n,
       case when tc > 0 then round(ts / tc, 6) end as trail_avg,
       case when tc > 0 and n * tc >= {factor} * ts then 1 else 0 end
           as is_spike
from trailed
"""


def stream_cell_counts_to_memory(spark, pages_dir: str, res: int = 6,
                                 name: str = "stream_cells_out"):
    """Run the SPATIAL kernel — geotag extract → micro-degree parse →
    cell encode → per-cell count — through the REAL streaming engine
    (``readStream`` over a bounded pages directory → complete-mode
    memory sink, ``availableNow``), the geo twin of
    :func:`stream_tumbling_to_memory`: on a bounded input complete mode
    must emit exactly the batch aggregate, so the micro-batch execution
    of the extraction+index pipeline itself is value-hash-checkable.
    Memory sink holds cell-cardinality rows (<= 4^res), never pages."""
    from zen3geo_spark.functions.geo import (
        cell_encode, extract_first_geotag, micro_from_str,
    )

    schema = spark.read.parquet(pages_dir).schema
    stream = spark.readStream.schema(schema).parquet(pages_dir)
    lat_s, lon_s = extract_first_geotag(F.col("text"))
    pts = (stream.select(lat_s.alias("lat_str"), lon_s.alias("lon_str"))
           .filter(F.col("lat_str") != "")
           .select(micro_from_str(F.col("lat_str")).alias("lat_us"),
                   micro_from_str(F.col("lon_str")).alias("lon_us")))
    agg = (pts.groupBy(
        cell_encode(F.col("lat_us"), F.col("lon_us"), res).alias("cell"))
        .count().withColumnRenamed("count", "n_pages"))
    return _run_to_memory(spark, agg, name, "complete")


def stream_dedup_to_memory(spark, docs_dir: str, text_col: str = "text",
                           name: str = "stream_dedup_out",
                           max_files_per_trigger: int = 1):
    """Exact dedup through the REAL streaming engine: ``readStream``
    over a bounded documents directory → content fingerprint →
    streaming ``dropDuplicates`` (the stateful dedup operator, state =
    one row per distinct fingerprint) → append-mode memory sink under
    ``availableNow``. ``maxFilesPerTrigger=1`` forces one micro-batch
    PER FILE, so duplicates arriving in LATER batches are suppressed by
    the state store, not by a within-batch shuffle — the cross-batch
    state path is what the value hash checks (output = exactly the
    distinct fingerprint set, deterministic regardless of which arrival
    was kept). At 10^12 rows the state is fingerprint-cardinality and
    HDFS-backed; a production run bounds it with a watermark on the
    ingest timestamp (dropDuplicatesWithinWatermark)."""
    from zen3geo_spark.functions.text import fingerprint

    schema = spark.read.parquet(docs_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(docs_dir))
    kept = (stream.select(fingerprint(F.col(text_col)).alias("fp"))
            .dropDuplicates(["fp"]))
    return _run_to_memory(spark, kept, name, "append")


def stream_pair_join_to_memory(spark, events_path: str,
                               left_type: str = "purchase",
                               right_type: str = "view",
                               lookback: str = "2 hours",
                               name: str = "stream_pair_join_out"):
    """Stream-STREAM inner join through the real streaming engine: two
    ``readStream`` views of the bounded events source (conversion
    attribution shape — each LEFT event joins the RIGHT events of the
    same user in the trailing ``lookback``), watermarks on both sides +
    an event-time range condition (what bounds the join state in
    production), append-mode memory sink under ``availableNow``.

    The watermark delay is set to 365 days — far beyond the bounded
    input's span — so NO row can be evicted before it pairs, and the
    append-mode stream output must equal the batch/SQL join exactly;
    that makes the stream-stream join execution path itself
    value-hash-checkable against the DuckDB twin. Output is id pairs
    only (ints ⇒ hash-exact), driver-sized at the test scale.
    """
    schema = spark.read.parquet(events_path).schema
    src_dir = _source_dir(events_path)

    def side(tp, pfx):
        # watermarks require TIMESTAMP (LTZ); the parquet source is NTZ.
        # The cast shifts both sides by the same session-tz offset, and
        # the output carries ids only, so the pairing is tz-invariant.
        return (spark.readStream.schema(schema).parquet(src_dir)
                .filter(F.col("event_type") == tp)
                .selectExpr(f"event_id as {pfx}_id",
                            f"user_id as {pfx}_user",
                            f"cast(ts as timestamp) as {pfx}_ts")
                .withWatermark(f"{pfx}_ts", "365 days"))

    left, right = side(left_type, "l"), side(right_type, "r")
    joined = left.join(
        right,
        F.expr(f"l_user = r_user and r_ts >= l_ts - interval {lookback} "
               "and r_ts < l_ts"))
    return _run_to_memory(spark, joined.select("l_user", "l_id", "r_id"), name,
                          "append")
