"""Event-time windowing: tumbling + session windows, streaming parity."""

import datetime as dt

from pyspark.sql import functions as F

from zen3geo_spark.streaming.windows import (
    run_windowed_stream, session_stats, tumbling_event_stats,
    with_watermark_ts,
)


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")


def test_session_window_goldens(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def at(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # user 1: events at 0, 10, 25 (one session), then 70 (new session:
        # 70 - 25 = 45 >= 30)
        (0, at(0), 1, "view", 1.0, "{}"),
        (1, at(10), 1, "view", 2.0, "{}"),
        (2, at(25), 1, "view", 3.0, "{}"),
        (3, at(70), 1, "view", 4.0, "{}"),
        # user 2: events exactly 30 apart → ONE session (Spark merges an
        # event landing exactly at the previous session end), then a clear
        # new session at 61
        (4, at(0), 2, "view", 5.0, "{}"),
        (5, at(30), 2, "view", 6.0, "{}"),
        (6, at(61), 2, "view", 7.0, "{}"),
    ]
    out = session_stats(_ev(spark, rows), gap="30 minutes").collect()
    by_key = {(r["user_id"], r["session_start"]): r for r in out}
    assert len(out) == 4
    s1 = by_key[(1, at(0))]
    assert s1["n_events"] == 3 and s1["session_last"] == at(25) and s1["sum_value"] == 6.0
    s2 = by_key[(1, at(70))]
    assert s2["n_events"] == 1
    s3 = by_key[(2, at(0))]
    assert s3["n_events"] == 2 and s3["session_last"] == at(30)  # boundary merges
    assert by_key[(2, at(61))]["n_events"] == 1


def test_tumbling_matches_manual_bucket(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = tumbling_event_stats(ev, window="6 hours")
    manual = (
        ev.groupBy(
            F.to_timestamp(F.floor(F.unix_timestamp("ts") / 21600) * 21600).alias("window_start"),
            "event_type",
        ).agg(F.count("*").alias("n"))
    )
    j = got.select("window_start", "event_type", "n").exceptAll(
        manual.select("window_start", "event_type", "n"))
    assert j.count() == 0


def test_streaming_windowed_available_now(spark, tmp_path):
    """The streaming driver emits exactly the batch plan's finalized
    windows (append mode holds back windows newer than the watermark)."""
    ev_dir = str(tmp_path / "ev")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.write.mode("overwrite").parquet(ev_dir)

    run_windowed_stream(spark, ev_dir, out_dir, ck,
                        window="6 hours", watermark="2 hours")
    got = spark.read.parquet(out_dir)

    batch = tumbling_event_stats(ev, window="6 hours")
    max_ts = ev.agg(F.max("ts")).first()[0]
    horizon = max_ts - dt.timedelta(hours=2)
    finalized = batch.filter(
        F.col("window_start") + F.expr("interval 6 hours") <= F.lit(horizon))
    assert got.count() == finalized.count() > 0
    assert got.exceptAll(finalized).count() == 0

    # second run with more data: only new finalized windows are appended
    ev.withColumn("ts", F.col("ts") + F.expr("interval 40 days")).write.mode(
        "append").parquet(ev_dir)
    run_windowed_stream(spark, ev_dir, out_dir, ck,
                        window="6 hours", watermark="2 hours")
    n2 = spark.read.parquet(out_dir).count()
    assert n2 > finalized.count()


def test_watermark_marker_batch_noop(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    assert with_watermark_ts(ev) is ev


def test_stream_tumbling_complete_equals_batch(spark):
    from zen3geo_spark.streaming.windows import stream_tumbling_to_memory

    src = "/root/testdata/sf0.001/events.parquet"
    got = stream_tumbling_to_memory(spark, src, window="6 hours",
                                    name="t_stream_eq")
    batch = tumbling_event_stats(spark.read.parquet(src), window="6 hours")
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert len(a) > 0 and a == b


def test_stream_tumbling_rerun_same_name(spark):
    from zen3geo_spark.streaming.windows import stream_tumbling_to_memory

    src = "/root/testdata/sf0.001/events.parquet"
    n1 = stream_tumbling_to_memory(spark, src, name="t_stream_rr").count()
    # second run with the same sink name must not clash with the first
    n2 = stream_tumbling_to_memory(spark, src, name="t_stream_rr").count()
    assert n1 == n2 > 0


def test_windowed_anomaly_planted_spike(spark):
    import datetime as dt

    from zen3geo_spark.streaming.windows import windowed_anomaly

    # key "a": 4 quiet hours (2 events each) then one 10-event spike hour
    base = dt.datetime(2024, 1, 1)
    rows = []
    for h in range(4):
        rows += [(base + dt.timedelta(hours=h, minutes=m), "a")
                 for m in (5, 25)]
    rows += [(base + dt.timedelta(hours=4, minutes=m), "a")
             for m in range(0, 50, 5)]
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = {r["window_start"].hour: r for r in
           windowed_anomaly(ev, window="1 hour", trail=4,
                            factor=2).collect()}
    assert out[4]["is_spike"] == 1 and out[4]["n"] == 10
    assert out[4]["trail_avg"] == 2.0
    # baseline-less first window: NULL trail, never flagged
    assert out[0]["trail_avg"] is None and out[0]["is_spike"] == 0
    assert all(out[h]["is_spike"] == 0 for h in (0, 1, 2, 3))


def test_stream_pair_join_equals_batch(spark):
    """The stream-stream join (append mode, availableNow) over a bounded
    input must emit exactly the batch join."""
    from zen3geo_spark.streaming.windows import stream_pair_join_to_memory

    path = "/root/testdata/sf0.001/events.parquet"
    got = sorted(map(tuple, stream_pair_join_to_memory(
        spark, path, lookback="2 hours",
        name="t_stream_pair").collect()))
    batch = _batch_pairs(spark, path)
    assert got == batch and len(got) > 0


def _batch_pairs(spark, path):
    """Batch twin of stream_pair_join_to_memory with a 2-hour lookback."""
    ev = spark.read.parquet(path)
    p = ev.filter("event_type = 'purchase'").selectExpr(
        "event_id as l_id", "user_id as l_user",
        "cast(ts as timestamp) as l_ts")
    v = ev.filter("event_type = 'view'").selectExpr(
        "event_id as r_id", "user_id as r_user",
        "cast(ts as timestamp) as r_ts")
    return sorted(map(tuple, p.join(
        v, (p.l_user == v.r_user)
        & (v.r_ts >= p.l_ts - F.expr("interval 2 hours"))
        & (v.r_ts < p.l_ts)).select("l_user", "l_id", "r_id").collect()))


def test_stream_runners_remove_their_checkpoints(spark, tmp_path):
    """Every memory runner returns the batch rows and leaves no
    checkpoint directory behind: the memory sink keeps its rows in the
    session's memory, so the checkpoint is only needed while the query
    runs."""
    import os
    import tempfile

    from zen3geo_spark.functions.geo import (
        cell_encode, extract_first_geotag, micro_from_str,
    )
    from zen3geo_spark.functions.text import fingerprint
    from zen3geo_spark.streaming.windows import (
        stream_cell_counts_to_memory, stream_dedup_to_memory,
        stream_pair_join_to_memory, stream_tumbling_to_memory,
    )

    def ckpts():
        return {d for d in os.listdir(tempfile.gettempdir()) if "_ckpt_" in d}

    # 7 minutes apart, so each purchase has a same-user view 70 minutes
    # before it (user = i % 5, type = i % 3)
    t0 = dt.datetime(2024, 1, 1)
    events = str(tmp_path / "events")
    _ev(spark, [(i, t0 + dt.timedelta(minutes=7 * i), i % 5,
                 ("view", "purchase", "click")[i % 3], float(i),
                 f'{{"k": {i % 4}}}') for i in range(60)]).write.parquet(events)
    texts = [f"page {i} lat={i % 90}.{i:06d} lon=-{i % 180}.000001 x"
             for i in range(40)] + ["no tag", "Page  0 LAT"]
    pages = spark.createDataFrame([(t,) for t in texts], "text string")
    pages.write.parquet(str(tmp_path / "pages"))
    pages.union(pages).write.parquet(str(tmp_path / "docs"))
    lat_s, lon_s = extract_first_geotag(F.col("text"))
    cells = (pages.filter(lat_s != "")
             .groupBy(cell_encode(micro_from_str(lat_s), micro_from_str(lon_s),
                                  6).alias("cell"))
             .count())

    def rows(df):
        return sorted(map(tuple, df.collect()))

    before = ckpts()
    runs = [
        (stream_tumbling_to_memory(spark, events, name="t_ck_tumble"),
         rows(tumbling_event_stats(spark.read.parquet(events)))),
        (stream_cell_counts_to_memory(spark, str(tmp_path / "pages"),
                                      name="t_ck_cells"), rows(cells)),
        (stream_dedup_to_memory(spark, str(tmp_path / "docs"),
                                name="t_ck_dedup"),
         rows(pages.select(fingerprint(F.col("text")).alias("fp")).distinct())),
        (stream_pair_join_to_memory(spark, events, name="t_ck_pairs"),
         _batch_pairs(spark, events)),
    ]
    for got, want in runs:
        assert rows(got) == want and len(want) > 1
    assert ckpts() == before
