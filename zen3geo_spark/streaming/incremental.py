"""Incremental (resumable) runs via Structured Streaming availableNow.

The reference is batch-only (no watermark/state anywhere under
/root/reference/zen3geo/) — resumability there means re-running the
pipeline. Here, incremental processing over a growing pages table is a
``readStream`` + ``availableNow`` trigger with a checkpointLocation: each
invocation processes exactly the new files and stops; Spark's offset log
is the resume token. The transformation plugged in is the same
extract→cell-encode plan the batch path uses (one code path, two drivers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zen3geo_spark.functions.geo import (
    cell_encode, extract_first_geotag, micro_from_str,
)


def extract_and_encode(pages: DataFrame) -> DataFrame:
    """The shared batch/streaming transformation: geotag extraction →
    micro-degree parse → cell encode. Pure JVM expressions."""
    lat_s, lon_s = extract_first_geotag(F.col("text"))
    tagged = pages.select(
        "url", "warc_ts", "lang",
        lat_s.alias("lat_str"), lon_s.alias("lon_str"),
    ).filter(F.col("lat_str") != "")
    return tagged.select(
        "url", "warc_ts", "lang", "lat_str", "lon_str",
        micro_from_str(F.col("lat_str")).alias("lat_us"),
        micro_from_str(F.col("lon_str")).alias("lon_us"),
    ).withColumn("cell", cell_encode(F.col("lat_us"), F.col("lon_us"), 7))


def run_incremental(spark: SparkSession, pages_dir: str, out_dir: str,
                    checkpoint_dir: str) -> None:
    """Process new page files since the last run, then stop."""
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    stream = spark.readStream.schema(schema).parquet(pages_dir)
    result = extract_and_encode(stream)
    q = (
        result.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
