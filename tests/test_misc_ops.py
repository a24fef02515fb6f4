"""STAC search, checkpoint/resume, streaming availableNow, multimodal."""

import glob
import os

import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from zen3geo_spark.operators.multimodal import (
    decode_image, frame_sample, image_stats, synth_media,
)
from zen3geo_spark.operators.stac import list_items, matched, search
from zen3geo_spark.plans.checkpoint import CheckpointRunner
from zen3geo_spark.sources.fixtures import stac_items
from zen3geo_spark.sources.pages import synth_pages
from zen3geo_spark.streaming.incremental import extract_and_encode, run_incremental


def test_stac_search_deferred_and_matched(spark):
    items = stac_items(spark, 50)
    s = search(items, bbox=(-60, -40, 40, 40),
               datetime_range=("2022-01-01", "2022-02-01"),
               collections=["sentinel-2-l2a", "landsat-c2-l2"])
    n = matched(s)
    assert n == list_items(s).count()
    assert 0 < n < 50
    # deferred-ness: adding a filter later still prunes (lazy plan)
    assert matched(s.filter(F.col("collection") == "sentinel-2-l2a")) <= n


def test_checkpoint_resume(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    runner = CheckpointRunner(spark, root)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return synth_pages(spark, 100).select("url", "lang")

    df1 = runner.stage("extract", "fp-v1", build)
    assert df1.count() == 100
    assert calls["n"] == 1
    # resume: same fingerprint → no recompute
    df2 = runner.stage("extract", "fp-v1", build)
    assert df2.count() == 100
    assert calls["n"] == 1
    m = runner.metrics("extract")
    assert m["complete"] and m["partitions"][0]["rows"] == 100
    # changed input fingerprint → recompute
    runner.stage("extract", "fp-v2", build)
    assert calls["n"] == 2


def test_checkpoint_release_scoped_to_stage(spark, tmp_path):
    """The stage's block release must drop only blocks created DURING it:
    a caller-owned localCheckpoint-ed frame (truncated lineage — cannot
    recompute) has to stay usable after stage() completes."""
    outside = synth_pages(spark, 50).select("url").localCheckpoint(eager=True)
    assert outside.count() == 50
    runner = CheckpointRunner(spark, str(tmp_path / "ckpt3"))
    jsc = spark.sparkContext._jsc

    inside_ids = {}

    def build():
        inner = synth_pages(spark, 80).select("url", "lang").persist()
        inner.count()
        inside_ids["ids"] = set(jsc.getPersistentRDDs().keys())
        return inner

    before = set(jsc.getPersistentRDDs().keys())
    out = runner.stage("scoped", "fp1", build)
    assert out.count() == 80
    after = set(jsc.getPersistentRDDs().keys())
    # intra-stage persist() blocks were released...
    assert not (inside_ids["ids"] - before) & after
    # ...and the caller's checkpoint block was NOT: the frame still works
    assert outside.count() == 50
    outside.unpersist()


def test_checkpoint_partitioned_resume(spark, tmp_path):
    root = str(tmp_path / "ckpt2")
    runner = CheckpointRunner(spark, root)

    def build():
        return synth_pages(spark, 200).select("url", "lang")

    out = runner.stage("bylang", "fp1", build, partition_col="lang")
    assert out.count() == 200
    m = runner.metrics("bylang")
    assert len(m["partitions"]) == 5
    assert sum(p["rows"] for p in m["partitions"]) == 200
    # a changed fingerprint replaces the partitioned data dir: the old
    # 200 rows must not survive next to the new 20
    out = runner.stage("bylang", "fp2",
                       lambda: synth_pages(spark, 20).select("url", "lang"),
                       partition_col="lang")
    assert out.count() == 20
    assert sum(p["rows"] for p in runner.metrics("bylang")["partitions"]) == 20
    # a zero-padded string partition value comes back as the same string,
    # fresh and resumed (directory-name inference would read 7 and 10)
    padded = spark.createDataFrame([(1, "007"), (2, "010"), (3, "007")],
                                   "id long, code string")
    for _ in range(2):
        out = runner.stage("bycode", "fp1", lambda: padded, partition_col="code")
        assert dict(out.dtypes)["code"] == "string"
        assert sorted((r["id"], r["code"]) for r in out.collect()) == [
            (1, "007"), (2, "010"), (3, "007")]


def test_checkpoint_failed_rewrite_reruns(spark, tmp_path):
    """A rewrite that fails mid-write must not leave the previous
    manifest vouching for the emptied data dir: the next run under the
    old fingerprint rebuilds instead of resuming nothing."""
    runner = CheckpointRunner(spark, str(tmp_path / "ckpt4"))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return synth_pages(spark, 100).select("url", "lang")

    @F.udf("string")
    def boom(url):
        raise RuntimeError("build failed")

    assert runner.stage("s", "fp1", build).count() == 100
    with pytest.raises(PythonException, match="build failed"):
        runner.stage("s", "fp2", lambda: synth_pages(spark, 100).select(
            boom("url").alias("url"), "lang"))
    out = runner.stage("s", "fp1", build)
    assert calls["n"] == 2
    assert out.count() == 100


def _jobs_in_group(spark, group, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_checkpoint_stage_runs_no_extra_jobs(spark, tmp_path):
    """A fresh stage costs exactly what a plain write of the built frame
    costs: the manifest's row counts and the returned frame's schema add
    no Spark job. A resumed stage runs no job at all."""
    inp = synth_pages(spark, 400).select("url", "lang").localCheckpoint(eager=True)
    runner = CheckpointRunner(spark, str(tmp_path / "ckpt5"))

    def not_resumed():
        raise AssertionError("stage rebuilt on resume")

    for part in (None, "lang"):
        plain_dir = str(tmp_path / f"plain_{part}")

        def plain():
            w = inp.write.mode("overwrite")
            (w.partitionBy(part) if part else w).parquet(plain_dir)

        n_plain = _jobs_in_group(spark, f"plain_{part}", plain)
        n_stage = _jobs_in_group(
            spark, f"stage_{part}",
            lambda: runner.stage(f"s_{part}", "fp1", lambda: inp, partition_col=part))
        assert n_stage == n_plain, (part, n_stage, n_plain)
        m = runner.metrics(f"s_{part}")
        assert sum(p["rows"] for p in m["partitions"]) == 400
        n_resume = _jobs_in_group(
            spark, f"resume_{part}",
            lambda: runner.stage(f"s_{part}", "fp1", not_resumed, partition_col=part))
        assert n_resume == 0, (part, n_resume)
    inp.unpersist()


def test_streaming_available_now_incremental(spark, tmp_path):
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    synth_pages(spark, 100).write.mode("overwrite").parquet(pages_dir)
    run_incremental(spark, pages_dir, out_dir, ck)
    n1 = spark.read.parquet(out_dir).count()
    batch = extract_and_encode(synth_pages(spark, 100)).count()
    assert n1 == batch  # streaming path == batch path
    # append a new file; second run processes ONLY the increment
    synth_pages(spark, 50).write.mode("append").parquet(pages_dir)
    run_incremental(spark, pages_dir, out_dir, ck)
    n2 = spark.read.parquet(out_dir).count()
    assert n2 == n1 + extract_and_encode(synth_pages(spark, 50)).count()


def test_multimodal_plumbing(spark):
    media = synth_media(spark, 30)
    decoded = decode_image(media, out_h=4, out_w=4)
    rows = decoded.collect()
    assert len(rows) == 10  # ids % 3 == 0
    assert all(len(r["pixels"]) == 4 * 4 * 3 for r in rows)
    stats = image_stats(decoded).collect()
    assert all(0 <= r["mean_px"] <= 255 for r in stats)
    frames = frame_sample(media, every_ms=500)
    f0 = frames.groupBy("media_id").count()
    assert f0.count() == 10  # ids % 3 == 2
    # deterministic: same plan twice → same bytes
    again = {(r["media_id"], tuple(r["pixels"])) for r in decode_image(media).collect()}
    first = {(r["media_id"], tuple(r["pixels"])) for r in rows}
    assert again == first


def test_ppm_codec_roundtrip():
    """parse_ppm must invert ppm_bytes exactly, and handle P3/comments."""
    import numpy as np
    from zen3geo_spark.operators.multimodal import parse_ppm, ppm_bytes

    img = parse_ppm(ppm_bytes(7, 5, 3))
    assert img.shape == (3, 5, 3)
    idx = np.arange(5 * 3 * 3)
    assert (img.ravel() == (7 * 7 + idx * 13) % 256).all()
    # P3 ascii variant with a comment line
    p3 = b"P3\n# a comment\n2 1\n255\n0 128 255  1 2 3\n"
    assert parse_ppm(p3).ravel().tolist() == [0.0, 128.0, 255.0, 1.0, 2.0, 3.0]


def test_multimodal_real_decode_and_bad_format(spark):
    media = synth_media(spark, 6)
    real = decode_image(media, out_h=2, out_w=2).collect()
    assert len(real) == 2 and all(len(r["pixels"]) == 12 for r in real)
    import pytest
    from pyspark.sql import functions as F
    junk = media.withColumn("payload", F.lit(b"GIF89a..."))
    with pytest.raises(Exception, match="unsupported image format"):
        decode_image(junk).collect()


def test_wav_codec_roundtrip_and_chunk_walk():
    """parse_wav must invert wav_bytes exactly, skip unknown RIFF chunks
    (word-aligned), and reject non-RIFF / non-PCM16 payloads."""
    import struct

    import numpy as np
    import pytest

    from zen3geo_spark.operators.multimodal import parse_wav, wav_bytes

    pcm, rate, nch = parse_wav(wav_bytes(7, 100, sample_rate=8000))
    assert (rate, nch, pcm.dtype.itemsize, len(pcm)) == (8000, 1, 2, 100)
    idx = np.arange(100, dtype=np.int64)
    assert (pcm.astype(np.int64) == (7 * 31 + idx * 57) % 65536 - 32768).all()

    # inject an odd-sized LIST chunk before data: the walker must skip it
    # with word-aligned padding and still find fmt/data
    raw = wav_bytes(7, 10)
    fmt_at = raw.index(b"fmt ")
    listc = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    patched = raw[:fmt_at] + listc + raw[fmt_at:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    pcm2, _, _ = parse_wav(patched)
    assert (pcm2.astype(np.int64)
            == (7 * 31 + np.arange(10) * 57) % 65536 - 32768).all()

    with pytest.raises(ValueError, match="unsupported audio format"):
        parse_wav(b"OggS....junk")
    # non-PCM encoding (format tag 3 = IEEE float)
    bad = bytearray(wav_bytes(1, 4))
    bad[bad.index(b"fmt ") + 8] = 3
    with pytest.raises(ValueError, match="only PCM16"):
        parse_wav(bytes(bad))
    # stereo reshape path
    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 44100 * 4, 4, 16)
    data = np.arange(8, dtype="<i2").tobytes()
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    st, rate2, nch2 = parse_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert (nch2, st.shape) == (2, (4, 2)) and rate2 == 44100


def test_decode_audio_features(spark):
    """Real WAV decode through mapInPandas: features match a NumPy
    recompute from the deterministic sample formula."""
    import numpy as np

    from zen3geo_spark.operators.multimodal import decode_audio

    media = synth_media(spark, 30)
    rows = {r["media_id"]: r for r in decode_audio(media).collect()}
    assert len(rows) == 10  # ids % 3 == 1
    for mid, r in rows.items():
        n = 1000 + mid % 5000
        v = ((mid * 31 + np.arange(n, dtype=np.int64) * 57) % 65536
             - 32768).astype(np.float64)
        neg = v < 0
        assert r["n_samples"] == n and r["sample_rate"] == 1000
        assert r["mean_amp"] == v.sum() / n
        assert r["rms"] == np.sqrt((v * v).sum() / n)
        assert r["peak"] == int(np.abs(v).max())
        assert r["zero_crossings"] == int(np.count_nonzero(neg[1:] != neg[:-1]))


def test_pgm_codec_and_binary_asset_scan(spark, tmp_path):
    """PGM roundtrip + the binaryFile → Arrow decode ingestion path over
    real files on disk."""
    import numpy as np
    from zen3geo_spark.operators.multimodal import (
        parse_pgm, pgm_bytes, scan_pgm_assets, write_pgm_assets,
    )

    img = parse_pgm(pgm_bytes(3, 6, 4))
    assert img.shape == (4, 6)
    idx = np.arange(24)
    assert (img.ravel() == (3 * 11 + idx * 17) % 256).all()
    # P2 ascii variant with comment
    assert parse_pgm(b"P2\n# c\n3 1\n255\n9 0 255\n").ravel().tolist() == [9.0, 0.0, 255.0]
    import pytest
    with pytest.raises(ValueError, match="unsupported image format"):
        parse_pgm(b"P6\n1 1\n255\n...")  # PPM magic rejected by PGM parser

    d = tmp_path / "pgm"
    write_pgm_assets(d, 5)
    out = {r["asset_id"]: r for r in scan_pgm_assets(spark, d).collect()}
    assert set(out) == set(range(5))
    ref = parse_pgm(pgm_bytes(2, 22, 14))
    assert out[2]["height"] == 14 and out[2]["width"] == 22
    assert out[2]["mean_px"] == ref.mean()
    assert out[2]["min_px"] == ref.min() and out[2]["max_px"] == ref.max()


def test_crs_dispatch_rejects_non_utm_4digit_codes():
    """EPSG:3266 (a 4-digit non-UTM code) must raise, not silently pick
    'zone 6'; real UTM-north codes still dispatch (ADVICE round 2)."""
    import pytest
    from zen3geo_spark.functions.geo import crs_forward_np

    for bad in ("EPSG:3266", "EPSG:3267", "EPSG:32600", "EPSG:32661"):
        with pytest.raises(NotImplementedError):
            crs_forward_np(bad)
    x, y = crs_forward_np("EPSG:32631")(50.0, 4.0)
    assert 0 < x < 1_000_000 and y > 0


def test_rasterize_value_carrying_line_and_polygon(spark):
    """Lines/polygons now forward datashader-style value reductions
    (reference datapipes/datashader.py:49-55): mean/max of a per-geometry
    scalar over covering pixels."""
    import pytest
    from zen3geo_spark.operators.rasterize import rasterize
    from zen3geo_spark.sources.fixtures import canvas_rasterize

    canvas = canvas_rasterize(spark, n=1)
    two = spark.createDataFrame(
        [(0, "linestring", [[{"x": 1.5, "y": 1.0}, {"x": 7.5, "y": 1.0}]], "OGC:CRS84", 10.0),
         (1, "linestring", [[{"x": 1.5, "y": 1.0}, {"x": 7.5, "y": 1.0}]], "OGC:CRS84", 30.0)],
        "geom_id long, geom_type string, "
        "parts array<array<struct<x:double,y:double>>>, crs string, speed double")
    got = rasterize(canvas, two, agg="mean", value_col="speed").collect()
    assert len(got) > 0 and all(r["value"] == 20.0 for r in got)
    mx = rasterize(canvas, two, agg="max", value_col="speed").collect()
    assert all(r["value"] == 30.0 for r in mx)
    with pytest.raises(ValueError, match="requires value_col"):
        rasterize(canvas, two, agg="mean")


def test_open_asset_netpbm_engine_decodes_pixels(spark, tmp_path):
    """XpySTACAssetReader dispatch with a REAL decoding engine: netpbm
    files → long-form pixel rows consumable by the tile operators."""
    import numpy as np
    import pytest
    from zen3geo_spark.operators.multimodal import pgm_bytes, write_pgm_assets
    from zen3geo_spark.sources.raster import open_asset

    d = tmp_path / "assets"
    write_pgm_assets(d, 3)
    px = open_asset(spark, d, engine="netpbm")
    got = px.filter(F.col("asset_id") == 1).orderBy("y_idx", "x_idx").collect()
    ref = np.array([[r["value"] for r in got if r["y_idx"] == y]
                    for y in range(13)])
    from zen3geo_spark.operators.multimodal import parse_pgm
    assert (ref == parse_pgm(pgm_bytes(1, 21, 13))).all()
    assert px.count() == sum((20 + i % 8) * (12 + i % 4) for i in range(3))
    with pytest.raises(ValueError, match="unsupported engine"):
        open_asset(spark, d, engine="zarr")


def test_open_asset_json_csv_engines_dispatch(spark, tmp_path):
    """Engine-override parity with the reference
    (test_datapipes_xpystac.py:11-102): the same open_asset entry point
    reads the STAC item sidecar via the json engine and the pixel table
    via the csv engine; values match the deterministic fixture
    formulas."""
    from zen3geo_spark.sources.raster import (
        N_SIDECAR_ITEMS, open_asset, write_stac_sidecar_assets,
    )

    d = tmp_path / "sidecar"
    write_stac_sidecar_assets(d)
    items = open_asset(spark, str(d / "items.jsonl"), engine="json")
    got = {r["item_id"]: r for r in items.collect()}
    assert len(got) == N_SIDECAR_ITEMS
    assert got[7]["collection"] == "c1"
    assert got[7]["lat_us"] == (7 * 5_000_003) % 180_000_001 - 90_000_000
    px = open_asset(spark, str(d / "pixels.csv"), engine="csv",
                    header="true", inferSchema="true")
    n = px.filter(F.col("item_id") == 3).count()
    assert n == 13  # 10 + 3 % 5
    v = px.filter((F.col("item_id") == 3) & (F.col("px") == 2)).collect()
    assert v[0]["v"] == (3 * 11 + 2 * 17) % 256


def test_open_asset_zarr_like_engine(spark, tmp_path):
    """Zarr-analogue chunked store (the reference's zarr-engine readout,
    test_datapipes_xpystac.py:40-70): shape/dtype/bounds/resolution come
    from the consolidated metadata WITHOUT opening chunks; a windowed
    read plans and opens only the intersecting chunk files (lazy chunk
    access); decoded values are exact; edge-chunk padding is clipped."""
    import numpy as np

    from zen3geo_spark.sources.raster import open_asset
    from zen3geo_spark.sources.zarr_like import (
        plan_chunks, store_info, write_zarr_like_store,
    )

    h, w = 23, 37  # NOT chunk-aligned: edge chunks are padded
    arr = ((np.arange(h)[:, None] * 31 + np.arange(w)[None, :] * 17) % 251
           ).astype("float32")
    store = str(tmp_path / "store")
    write_zarr_like_store(store, arr, chunks=(8, 16),
                          grid=(100.0, 500.0, 10.0), fill_value=-9.0)

    # consolidated-metadata pins (sizes / dtype / bounds / resolution)
    info = store_info(store)
    assert info["sizes"] == {"y": 23, "x": 37}
    assert info["dtype"] == "float32"
    assert info["bounds"] == (100.0, 500.0 - 230.0, 100.0 + 370.0, 500.0)
    assert info["resolution"] == (10.0, -10.0)
    assert info["n_chunks"] == 9  # ceil(23/8) * ceil(37/16)

    # lazy chunk pruning: a window inside chunk (1,1) touches 1 file of 9
    win = (9, 14, 17, 30)
    touched = plan_chunks(store, win)
    assert len(touched) == 1 and touched[0].endswith("c1.1.bin")
    assert len(plan_chunks(store)) == 9

    px = open_asset(spark, store, engine="zarr_like", bbox_idx=win)
    got = {(r["y_idx"], r["x_idx"]): r for r in px.collect()}
    assert len(got) == (14 - 9 + 1) * (30 - 17 + 1)
    assert all(got[(y, x)]["value"] == float(arr[y, x]) for y, x in got)
    # pixel-center world coords from the grid affine
    assert got[(9, 17)]["x"] == 100.0 + 17.5 * 10.0
    assert got[(9, 17)]["y"] == 500.0 - 9.5 * 10.0

    # full scan clips edge-chunk padding to the metadata shape
    full = open_asset(spark, store, engine="zarr_like")
    assert full.count() == h * w
    assert full.agg(F.min("value")).first()[0] >= 0.0  # no -9 padding leaked


def test_chip_image_stats_floor_semantics(spark):
    """Chips follow xbatcher floor semantics: a 20x17 image at chip=8
    yields 2x2 chips (trailing 4-col / 1-row partials dropped), and each
    chip's stats match a direct numpy slice of the decoded raster."""
    import numpy as np

    from zen3geo_spark.operators.multimodal import (
        chip_image_stats, parse_ppm, synth_media,
    )

    media = synth_media(spark, 30)
    out = [r for r in chip_image_stats(media, chip=8).collect()]
    rows = {(r.media_id, r.chip_row, r.chip_col): r for r in out}
    payloads = {r["media_id"]: bytes(r["payload"])
                for r in media.filter("kind = 'image'")
                .select("media_id", "payload").collect()}
    assert payloads and rows
    for mid, buf in payloads.items():
        img = parse_ppm(buf)
        h, w = img.shape[0], img.shape[1]
        n_chips = (h // 8) * (w // 8)
        mine = [k for k in rows if k[0] == mid]
        assert len(mine) == n_chips
        for _, cy, cx in mine:
            blk = img[cy * 8:(cy + 1) * 8, cx * 8:(cx + 1) * 8]
            r = rows[(mid, cy, cx)]
            assert r.mean_px == float(np.mean(blk))
            assert r.min_px == float(blk.min())
            assert r.max_px == float(blk.max())


def test_budget_alloc_sums_exactly(spark):
    import __spark_entry__ as E

    out = E.q_budget_alloc(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert sum(r.alloc for r in rows) == 10_000
    # every host gets floor or floor+1 of its proportional share
    tot = sum(r.score for r in rows)
    for r in rows:
        fl = r.score * 10_000 // tot
        assert r.alloc in (fl, fl + 1)


def test_rendezvous_movement_bounded(spark):
    import __spark_entry__ as E

    rows = E.q_rendezvous_shards(spark, "/root/testdata/sf0.001").collect()
    n = sum(r.n_urls for r in rows)
    moved = sum(r.n_moved for r in rows)
    assert n == 5000 and len(rows) == 8
    # rendezvous property: adding shard 9 moves ~1/9 of keys; allow 2x
    assert moved < 2 * n / 9


def test_dom_depth_golden(spark):
    from pyspark.sql import functions as F
    import __spark_entry__ as E

    out = E.q_dom_stats(spark, "/root/testdata/sf0.001")
    r = out.orderBy("url").first()
    # every synthetic page is <html><body>...</body></html>: depth 2,
    # 4 tags, 2 distinct names
    assert (r.n_tags, r.n_names, r.max_depth) == (4, 2, 2)


def test_skyline_brute_force(spark):
    import __spark_entry__ as E

    out = E.q_skyline_hosts(spark, "/root/testdata/sf0.001")
    pts = [(r.host, r.x, r.y) for r in out.collect()]
    # recompute the host table and brute-force the skyline
    from zen3geo_spark.sources.pages import URL_HOST_SQL, synth_pages
    from pyspark.sql import functions as F
    hosts = (synth_pages(spark, E.N_PAGES)
             .selectExpr(f"{URL_HOST_SQL} as host", "length(text) as tl",
                         "case when text like '% lat=%' then 1 else 0 end"
                         " as tg")
             .groupBy("host")
             .agg(F.sum("tl").alias("x"), F.sum("tg").alias("y")).collect())
    all_pts = [(r.host, r.x, r.y) for r in hosts]

    def dominated(p):
        return any(q[1] >= p[1] and q[2] >= p[2]
                   and (q[1] > p[1] or q[2] > p[2]) for q in all_pts)

    brute = sorted(p for p in all_pts if not dominated(p))
    assert sorted(pts) == brute and brute


def test_layout_rle_audit_collapse(spark):
    """Z-order layout must strictly collapse cell runs vs crawl order,
    and runs_zorder must equal the distinct cell count (fully
    clustered)."""
    import __spark_entry__ as E

    r = E.q_layout_rle_audit(spark, "/root/testdata/sf0.001").collect()[0]
    assert r.runs_zorder < r.runs_url_order
    assert r.collapse_milli > 1000
    from zen3geo_spark.functions.geo import cell_encode
    from pyspark.sql import functions as F
    pts = E._points_df(spark).withColumn(
        "cell", cell_encode(F.col("lat_us"), F.col("lon_us"), 6))
    assert r.runs_zorder == pts.select("cell").distinct().count()


def test_published_assets_race_leaves_one_complete_dir(tmp_path, monkeypatch):
    """Eight concurrent writers of one generated input (more than the
    cores), all past the existence check at once: each writes its own temp
    sibling, one rename publishes, every writer gets the same complete
    directory, a reader never sees it half written and no temp sibling is
    left behind. No Spark."""
    import pathlib
    import threading

    import __spark_entry__ as E

    monkeypatch.setattr(E, "GEN_ASSETS", tmp_path / "gen")
    final = tmp_path / "gen" / "docs"
    n = 8
    all_building = threading.Barrier(n, timeout=30)
    done = threading.Event()
    got, seen, errors = [], [], []

    def build(path):
        all_building.wait()
        for i in range(50):
            (pathlib.Path(path) / f"part-{i:02d}").write_text(str(i))

    def publish():
        try:
            got.append(E._published("docs", build))
        except Exception as e:  # surfaced by the asserts below
            errors.append(e)

    def reader():
        while not done.is_set():
            if final.exists():
                seen.append(len(list(final.iterdir())))

    threads = [threading.Thread(target=publish) for _ in range(n)]
    watch = threading.Thread(target=reader)
    watch.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    done.set()
    watch.join(timeout=60)
    assert not any(t.is_alive() for t in threads + [watch])
    assert not errors and got == [str(final)] * n
    assert sorted(p.name for p in final.iterdir()) == [f"part-{i:02d}" for i in range(50)]
    assert all((final / f"part-{i:02d}").read_text() == str(i) for i in range(50))
    assert set(seen) <= {50}
    assert [p.name for p in (tmp_path / "gen").iterdir()] == ["docs"]
