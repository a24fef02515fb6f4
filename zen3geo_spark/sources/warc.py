"""WARC (ISO 28500) record serialization + parsing for the pages table.

The BASELINE.json input is a Common-Crawl-style table ``(url, warc_ts,
html, text, lang)`` — the columnar form of what Common Crawl ships as
WARC files. A 100 TB pipeline needs BOTH directions: serialize curated
pages back into WARC objects (re-crawl seeds, exchange format) and
parse raw WARC blobs into the table (ingest). Both run here with real
byte-level framing per the public WARC/1.0 format (warc-specifications
/ iipc, also RFC-style framed in Common Crawl's own docs):

    WARC/1.0\\r\\n
    <header-name>: <value>\\r\\n ...
    \\r\\n
    <Content-Length payload bytes>
    \\r\\n\\r\\n

* **serialize** is pure JVM codegen — binary ``concat`` of header
  strings and the payload, no Python in the hot path;
* **blob assembly** groups records into bounded WARC objects (bucket =
  page id div ``records_per_file``) via one Arrow-batched
  ``applyInPandas`` concat — each group is one output file, sized by
  the caller exactly like Common Crawl's ~1 GB .warc.gz shards;
* **parse** streams through each blob once inside ``mapInPandas``,
  honoring Content-Length framing (payloads may contain anything,
  including things that look like record headers — a regex split would
  be wrong; the length-prefix walk is the only correct parse).

Round-trip contract: parse(serialize(pages)) must reproduce (url,
warc_date, content_length, payload md5) — value-hash-checked against a
DuckDB twin computed DIRECTLY from the source table, so any framing
or parsing defect breaks the hash.

Reference: zen3geo reads rasters/vectors from files via rioxarray /
pyogrio readers (zen3geo/datapipes/rioxarray.py:25, pyogrio.py:21);
this is the same scan-source role for the web-page payload format.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_CRLF = "\r\n"
WARC_DATE_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"

PARSED_SCHEMA = (
    "url string, warc_date string, content_length long, payload_md5 string"
)


def warc_serialize(pages: DataFrame) -> DataFrame:
    """One WARC/1.0 response record per page as a ``record`` binary
    column (plus the page's ``url``). Pure JVM expressions."""
    sb = lambda s: F.lit(s).cast("binary")  # noqa: E731
    payload = F.col("html").cast("binary")
    header = F.concat(
        sb("WARC/1.0" + _CRLF),
        sb("WARC-Type: response" + _CRLF),
        sb("WARC-Target-URI: "), F.col("url").cast("binary"), sb(_CRLF),
        sb("WARC-Date: "),
        F.date_format(F.col("warc_ts"), WARC_DATE_FMT).cast("binary"), sb(_CRLF),
        sb("Content-Length: "),
        F.length(payload).cast("string").cast("binary"), sb(_CRLF),
        sb(_CRLF),
    )
    return pages.select(
        F.col("url"),
        F.concat(header, payload, sb(_CRLF + _CRLF)).alias("record"),
    )


def warc_blobs(records: DataFrame, records_per_file: int) -> DataFrame:
    """Assemble records into bounded WARC objects: bucket = page id div
    ``records_per_file`` (page id parsed from the url), records
    concatenated in page-id order inside one Arrow pass per bucket.
    Output: ``(file_id long, blob binary)`` — one row per WARC file."""
    from zen3geo_spark.sources.pages import URL_PID_SQL

    keyed = records.select(
        F.expr(URL_PID_SQL).alias("pid"), "record"
    ).withColumn("file_id", F.expr(f"pid div {records_per_file}"))

    def concat_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pid")
        blob = b"".join(bytes(r) for r in pdf["record"])
        return pd.DataFrame(
            {"file_id": [int(pdf["file_id"].iloc[0])], "blob": [blob]})

    return keyed.groupBy("file_id").applyInPandas(
        concat_group, schema="file_id long, blob binary")


def _parse_blob(blob: bytes) -> list[tuple[str, str, int, str]]:
    """Walk one WARC object by Content-Length framing (never regex over
    the payload). Returns (url, warc_date, content_length, md5hex)."""
    out = []
    pos, n = 0, len(blob)
    while pos < n:
        head_end = blob.index(b"\r\n\r\n", pos)
        headers = blob[pos:head_end].decode("utf-8").split(_CRLF)
        if headers[0] != "WARC/1.0":
            raise ValueError(f"bad WARC version line: {headers[0]!r}")
        h = dict(line.split(": ", 1) for line in headers[1:])
        clen = int(h["Content-Length"])
        body_start = head_end + 4
        payload = blob[body_start:body_start + clen]
        if blob[body_start + clen:body_start + clen + 4] != b"\r\n\r\n":
            raise ValueError("missing record terminator")
        out.append((h["WARC-Target-URI"], h["WARC-Date"], clen,
                    hashlib.md5(payload).hexdigest()))
        pos = body_start + clen + 4
    return out


def warc_parse(blobs: DataFrame) -> DataFrame:
    """Parse WARC objects back to per-record rows (PARSED_SCHEMA). One
    Arrow-batched pass; each blob visited exactly once."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw in pdf["blob"]:
                rows.extend(_parse_blob(bytes(raw)))
            yield pd.DataFrame(
                rows, columns=["url", "warc_date", "content_length",
                               "payload_md5"])

    return blobs.mapInPandas(run, schema=PARSED_SCHEMA)


def warc_roundtrip(pages: DataFrame, records_per_file: int = 200) -> DataFrame:
    """serialize → blob-assemble → parse, end to end."""
    return warc_parse(warc_blobs(warc_serialize(pages), records_per_file))


def cdx_index(pages: DataFrame, records_per_file: int = 200) -> DataFrame:
    """CDX capture index over the serialized WARC shards — the lookup
    structure every web archive pairs with its WARC files (CDXJ /
    OpenWayback): one row per record with its SURT url key, 14-digit
    timestamp, shard id, BYTE OFFSET inside the shard, and record
    length, so a reader can range-request one record from a 1 GB shard.

    Offsets come from the REAL serialized record lengths (the same
    ``warc_serialize`` bytes that build the shards) via one per-shard
    cumulative-sum window ordered by page id — the exact order
    ``warc_blobs`` concatenates, so offset arithmetic is provably the
    framing's. SURT key = reversed host labels + path (the standard
    sort-friendly form). Everything is JVM string/window arithmetic;
    the DuckDB twin recomputes record lengths symbolically from the
    header grammar, so a hash match re-proves the byte framing."""
    from pyspark.sql.window import Window

    from zen3geo_spark.sources.pages import URL_PID_SQL

    recs = warc_serialize(pages)
    keyed = (recs.join(pages.select("url", "warc_ts"), "url")
             .selectExpr(
                 "url", "warc_ts", f"{URL_PID_SQL} as pid",
                 f"{URL_PID_SQL} div {records_per_file} as file_id",
                 "length(record) as rec_len"))
    w = (Window.partitionBy("file_id").orderBy("pid")
         .rowsBetween(Window.unboundedPreceding, -1))
    surt = ("concat(array_join(reverse(split("
            "regexp_extract(url, '^https?://([^/]+)/', 1), '\\\\.')), ','), "
            "')', regexp_extract(url, '^https?://[^/]+(/.*)$', 1))")
    return (keyed
            .withColumn("offset",
                        F.coalesce(F.sum("rec_len").over(w), F.lit(0)))
            .selectExpr(f"{surt} as urlkey",
                        "date_format(warc_ts, 'yyyyMMddHHmmss') as cdx_ts",
                        "file_id", "offset", "rec_len"))


def cdx_index_sql_duckdb(pages_sql: str,
                         records_per_file: int = 200) -> str:
    """DuckDB twin: record length recomputed symbolically from the
    WARC/1.0 header grammar (10 + 21 + 17+|url|+2 + 11+20+2 +
    16+digits(|payload|)+2 + 2 + |payload| + 4) — independent
    arithmetic, same framing."""
    surt = ("array_to_string(list_reverse(string_split("
            "regexp_extract(url, '^https?://([^/]+)/', 1), '.')), ',') "
            "|| ')' || regexp_extract(url, '^https?://[^/]+(/.*)$', 1)")
    plen = "octet_length(html)"
    rec_len = (f"(10 + 21 + 17 + length(url) + 2 + 11 + 20 + 2 + 16 "
               f"+ length(cast({plen} as varchar)) + 2 + 2 + {plen} + 4)")
    return f"""
    with pages as ({pages_sql}),
    keyed as (
      select {surt} as urlkey,
             strftime(warc_ts, '%Y%m%d%H%M%S') as cdx_ts,
             id as pid, id // {records_per_file} as file_id,
             {rec_len} as rec_len
      from pages
    )
    select urlkey, cdx_ts, file_id,
           coalesce(sum(rec_len) over (
             partition by file_id order by pid
             rows between unbounded preceding and 1 preceding), 0) as offset,
           rec_len
    from keyed
    """
