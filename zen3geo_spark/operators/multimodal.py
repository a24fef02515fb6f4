"""Multimodal (image/audio/video) column plumbing.

Media ride as opaque ``binary`` columns with typed metadata; decode /
feature-extract / resize / frame-sample run as Arrow-batched pandas UDFs
over ``mapInPandas``. The image decode is a REAL codec for the netpbm
family (PPM P6/P3 color, PGM P5/P2 grayscale — public specs, parsed with
NumPy alone since no image libraries ship in this container); other
formats raise ValueError at decode time. ``write_pgm_assets``/
``scan_pgm_assets`` exercise the binaryFile ingestion path end-to-end:
real files on disk → binary rows → decode → per-file stats (only
scalars cross the Arrow boundary back).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, mime string, "
    "width int, height int, duration_ms int"
)

DECODED_SCHEMA = (
    "media_id long, height int, width int, channels int, pixels array<double>"
)


def ppm_bytes(media_id: int, w: int, h: int) -> bytes:
    """Deterministic P6 PPM: pixel byte i = (media_id·7 + i·13) mod 256
    (the formula the image_stats DuckDB oracle recomputes)."""
    header = f"P6\n{w} {h}\n255\n".encode()
    idx = np.arange(w * h * 3, dtype=np.int64)
    return header + ((media_id * 7 + idx * 13) % 256).astype(np.uint8).tobytes()


def _parse_netpbm(buf: bytes, magics: tuple[bytes, ...]) -> np.ndarray:
    """Shared netpbm header+raster parser (public format; NumPy-only).
    Returns (h, w) for graymap magics or (h, w, 3) for pixmap magics,
    float64, maxval <= 255."""
    toks: list[bytes] = []
    pos = 0
    while len(toks) < 4:
        while pos < len(buf) and buf[pos:pos + 1].isspace():
            pos += 1
        if pos >= len(buf):
            raise ValueError("truncated netpbm header")
        if buf[pos:pos + 1] == b"#":
            while pos < len(buf) and buf[pos:pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(buf) and not buf[pos:pos + 1].isspace():
            pos += 1
        toks.append(buf[start:pos])
        if len(toks) == 1 and toks[0] not in magics:
            raise ValueError(
                f"unsupported image format (magic {toks[0][:8]!r}); "
                f"this engine decodes netpbm {'/'.join(m.decode() for m in magics)}")
    magic, w, h, maxv = toks[0], int(toks[1]), int(toks[2]), int(toks[3])
    if maxv > 255:
        raise ValueError("netpbm maxval > 255 unsupported")
    nch = 3 if magic in (b"P6", b"P3") else 1
    n_vals = w * h * nch
    if magic in (b"P6", b"P5"):
        pos += 1  # exactly one whitespace byte after maxval (spec)
        arr = np.frombuffer(buf, dtype=np.uint8, count=n_vals, offset=pos)
    else:  # P3 / P2 ascii
        arr = np.array(buf[pos:].split()[:n_vals], dtype=np.int64)
    shape = (h, w, 3) if nch == 3 else (h, w)
    return arr.reshape(shape).astype(np.float64)


def parse_ppm(buf: bytes) -> np.ndarray:
    """Netpbm PPM parser (P6 raw / P3 ascii) → (h, w, 3) float64."""
    return _parse_netpbm(buf, (b"P6", b"P3"))


def parse_pgm(buf: bytes) -> np.ndarray:
    """Netpbm PGM graymap parser (P5 raw / P2 ascii) → (h, w) float64."""
    return _parse_netpbm(buf, (b"P5", b"P2"))


def pgm_bytes(asset_id: int, w: int, h: int) -> bytes:
    """Deterministic P5 PGM: pixel byte i = (asset_id·11 + i·17) mod 256
    (the formula the binary_assets DuckDB oracle recomputes).

    Round-trips exactly through the real parser:

    >>> img = parse_pgm(pgm_bytes(3, 4, 2))
    >>> img.shape
    (2, 4)
    >>> [int(v) for v in img[0]]     # 3*11 + i*17 mod 256
    [33, 50, 67, 84]
    """
    header = f"P5\n{w} {h}\n255\n".encode()
    idx = np.arange(w * h, dtype=np.int64)
    return header + ((asset_id * 11 + idx * 17) % 256).astype(np.uint8).tobytes()


def wav_bytes(media_id: int, n_samples: int, sample_rate: int = 1000) -> bytes:
    """Deterministic PCM16 mono RIFF/WAVE clip: sample i =
    ((media_id·31 + i·57) mod 65536) − 32768 (the formula the audio_stats
    DuckDB oracle recomputes). Real container: RIFF header, ``fmt `` and
    ``data`` chunks per the public WAVE spec.

    Round-trips exactly through the real parser:

    >>> pcm, rate, nch = parse_wav(wav_bytes(4, 5))
    >>> (rate, nch, pcm.shape)
    (1000, 1, (5,))
    >>> [int(v) for v in pcm]        # (4*31 + i*57) % 65536 - 32768
    [-32644, -32587, -32530, -32473, -32416]
    """
    i = np.arange(n_samples, dtype=np.int64)
    pcm = (((media_id * 31 + i * 57) % 65536) - 32768).astype("<i2")
    data = pcm.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_wav(buf: bytes) -> tuple[np.ndarray, int, int]:
    """Real RIFF/WAVE chunk walker (public spec; NumPy-only — no audio
    libraries ship in this container). Walks word-aligned chunks, parses
    the PCM ``fmt `` block, and returns ``(samples, sample_rate,
    n_channels)`` — int16 ndarray, shape (n,) mono or (n, nch) multi.
    Non-RIFF payloads and non-PCM16 encodings raise ValueError (the
    decode error contract, mirroring the netpbm magic check)."""
    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError(
            f"unsupported audio format (magic {buf[:4]!r}); "
            "this engine decodes RIFF/WAVE PCM16")
    fmt_body = data_body = None
    pos = 12
    while pos + 8 <= len(buf):
        cid = buf[pos:pos + 4]
        size = int.from_bytes(buf[pos + 4:pos + 8], "little")
        body = buf[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt_body = body
        elif cid == b"data":
            data_body = body
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if fmt_body is None or data_body is None:
        raise ValueError("truncated WAVE: missing fmt/data chunk")
    audio_fmt, nch, rate, _, _, bits = struct.unpack("<HHIIHH", fmt_body[:16])
    if audio_fmt != 1 or bits != 16:
        raise ValueError(
            f"unsupported WAVE encoding (format={audio_fmt}, bits={bits}); "
            "only PCM16 is decoded")
    pcm = np.frombuffer(data_body, dtype="<i2")
    if nch > 1:
        pcm = pcm[: (len(pcm) // nch) * nch].reshape(-1, nch)
    return pcm, int(rate), int(nch)


def write_pgm_assets(asset_dir, n: int) -> None:
    """Write ``n`` deterministic PGM files ``asset_####.pgm`` under
    ``asset_dir``, sized w = 20 + id%8, h = 12 + id%4. These back the
    binaryFile ingestion path: real files on disk →
    ``spark.read.format('binaryFile')`` → Arrow-batched decode."""
    import os

    os.makedirs(asset_dir, exist_ok=True)
    for i in range(n):
        with open(os.path.join(asset_dir, f"asset_{i:04d}.pgm"), "wb") as f:
            f.write(pgm_bytes(i, 20 + i % 8, 12 + i % 4))


def scan_pgm_assets(spark, asset_dir) -> DataFrame:
    """binaryFile scan → per-file grayscale stats: the end-to-end media
    ingestion shape (files on disk → binary rows → vectorized decode →
    JVM aggregate). The asset id is parsed from the file path; the decode
    runs once per file inside mapInPandas and emits ONLY the scalar stats
    (never the pixel matrix), so the shuffled bytes per 100-MB image are
    three doubles."""

    raw = (spark.read.format("binaryFile")
           .option("pathGlobFilter", "*.pgm").load(str(asset_dir))
           .select(F.regexp_extract(F.col("path"), r"asset_(\d+)\.pgm", 1)
                   .cast("long").alias("asset_id"),
                   "content"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            recs = []
            for aid, buf in zip(pdf["asset_id"], pdf["content"]):
                img = parse_pgm(bytes(buf))
                recs.append((int(aid), img.shape[0], img.shape[1],
                             float(img.mean()), float(img.min()),
                             float(img.max())))
            yield pd.DataFrame(recs, columns=[
                "asset_id", "height", "width", "mean_px", "min_px", "max_px"])

    return raw.mapInPandas(
        run, schema=("asset_id long, height int, width int, "
                     "mean_px double, min_px double, max_px double"))


def synth_media(spark, n: int) -> DataFrame:
    """Deterministic media table: image payloads are REAL binary P6 PPMs
    (``ppm_bytes``); audio/video payloads are opaque seeded bytes."""
    # partitions sized to the row count (~256 media/partition): a fixed
    # 32-way split of a small synthetic table would pay 32 Python-worker
    # round-trips per downstream Arrow stage for a handful of rows each
    base = spark.range(0, n, 1, min(32, max(1, n // 256))).selectExpr(
        "id as media_id",
        "case cast(id % 3 as int) when 0 then 'image' when 1 then 'audio' else 'video' end as kind",
        "case cast(id % 3 as int) when 0 then 'image/x-portable-pixmap' when 1 then 'audio/wav' else 'video/mp4' end as mime",
        "cast(16 + id % 16 as int) as width",
        "cast(16 + id % 8 as int) as height",
        "cast(1000 + id % 5000 as int) as duration_ms",
    )

    @F.pandas_udf("binary")
    def payload(mid: pd.Series, kind: pd.Series, w: pd.Series, h: pd.Series,
                dur: pd.Series) -> pd.Series:
        out = []
        for m, k, wi, hi, d in zip(mid, kind, w, h, dur):
            if k == "image":
                out.append(ppm_bytes(int(m), int(wi), int(hi)))
            elif k == "audio":
                # 1 kHz sample rate: duration_ms == n_samples, so the
                # metadata column and the decoded clip length agree
                out.append(wav_bytes(int(m), int(d), sample_rate=1000))
            else:
                out.append(f"payload-{int(m)}".encode())
        return pd.Series(out)

    return base.select(
        "media_id", "kind",
        payload("media_id", "kind", "width", "height",
                "duration_ms").alias("payload"),
        "mime", "width", "height", "duration_ms",
    )


def decode_image(media: DataFrame, out_h: int = 4,
                 out_w: int = 4) -> DataFrame:
    """Decode + nearest-neighbor-resize images to (out_h, out_w, 3) via
    mapInPandas (Arrow-batched; binary in, flat pixel array out). The
    decoder parses netpbm PPM; non-PPM payloads raise ValueError."""

    oy = np.arange(out_h)
    ox = np.arange(out_w)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            # batched output: one preallocated (n, out_h*out_w*3) pixel
            # matrix per Arrow batch — the per-row Python is only the
            # header parse; resize gathers and the DataFrame build are
            # single vectorized ops over the whole batch
            px = np.empty((n, out_h * out_w * 3), dtype=np.float64)
            for i, payload in enumerate(pdf["payload"]):
                img = parse_ppm(bytes(payload))
                px[i] = img[oy * img.shape[0] // out_h][:, ox * img.shape[1] // out_w].ravel()
            yield pd.DataFrame({
                "media_id": pdf["media_id"].to_numpy(),
                "height": np.full(n, out_h, dtype=np.int32),
                "width": np.full(n, out_w, dtype=np.int32),
                "channels": np.full(n, 3, dtype=np.int32),
                "pixels": list(px),
            })

    return media.filter(F.col("kind") == "image").mapInPandas(run, schema=DECODED_SCHEMA)


AUDIO_SCHEMA = ("media_id long, n_samples long, sample_rate int, "
                "mean_amp double, rms double, peak long, zero_crossings long")


def decode_audio(media: DataFrame) -> DataFrame:
    """Decode audio clips (REAL RIFF/WAVE PCM16 parse) → per-clip
    features via mapInPandas: sample count, mean amplitude, RMS, peak
    |amplitude|, and zero-crossing count (sign flips between consecutive
    samples, zero counted as non-negative). Only the seven scalars cross
    the Arrow boundary back — a 1-hour clip shuffles ~56 bytes. Every
    feature is exact: samples are int16, so all sums (Σv < 2⁴⁰, Σv² < 2⁴³)
    are integers exactly representable in float64 regardless of summation
    order — the DuckDB oracle reproduces them bit-identically."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            recs = []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                pcm, rate, _ = parse_wav(bytes(buf))
                v = pcm.astype(np.float64).ravel()
                neg = v < 0
                recs.append((
                    int(mid), len(v), rate,
                    float(v.sum() / len(v)),
                    float(np.sqrt((v * v).sum() / len(v))),
                    int(np.abs(pcm.astype(np.int64)).max()),
                    int(np.count_nonzero(neg[1:] != neg[:-1])),
                ))
            yield pd.DataFrame(recs, columns=[
                "media_id", "n_samples", "sample_rate", "mean_amp",
                "rms", "peak", "zero_crossings"])

    return (media.filter(F.col("kind") == "audio")
            .select("media_id", "payload")
            .mapInPandas(run, schema=AUDIO_SCHEMA))


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: one row per sampled frame timestamp
    (pure SQL explode; the frame decode itself would chain decode_image)."""
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id", "duration_ms",
            F.explode(
                F.sequence(F.lit(0), F.col("duration_ms") - 1, F.lit(every_ms))
            ).alias("frame_ms"),
        )
    )


def image_stats(decoded: DataFrame) -> DataFrame:
    """Feature extraction: per-image mean/min/max over the pixel array —
    explode + whole-stage-codegen hash aggregate (map-side partial
    combine), replacing the interpreted ``F.aggregate`` HOF reduce which
    walked the array per row in the expression interpreter."""
    ex = decoded.select("media_id", F.explode("pixels").alias("_v"))
    return ex.groupBy("media_id").agg(
        F.avg("_v").alias("mean_px"),
        F.min("_v").alias("min_px"),
        F.max("_v").alias("max_px"),
    )


def chip_image_stats(media: DataFrame, chip: int = 8) -> DataFrame:
    """xbatcher-style fixed-stride chipping over REAL decoded rasters:
    decode each netpbm image and slice it into non-overlapping
    ``chip``×``chip`` windows with the reference's floor semantics
    (trailing partial windows DROPPED — zen3geo
    datapipes/xbatcher.py:105-116), emitting per-chip mean/min/max over
    all 3 channels → (media_id, chip_row, chip_col, mean_px, min_px,
    max_px). Composes the two reference cores — raster decode +
    XbatcherSlicer — in ONE Arrow pass: the UDF ships chip STATS, never
    pixels, so bytes-on-the-wire per image is chips×3 doubles.

    Exactness: chip sums are integer (uint8 pixels, ≤ 3·chip² terms
    < 2^53), so mean = sum/len is bit-identical in any engine and the
    DuckDB oracle recomputes it from the synthetic pixel formula."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            recs = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = parse_ppm(bytes(payload))
                h, w = img.shape[0], img.shape[1]
                for cy in range(h // chip):
                    for cx in range(w // chip):
                        blk = img[cy * chip:(cy + 1) * chip,
                                  cx * chip:(cx + 1) * chip]
                        recs.append((int(mid), cy, cx,
                                     float(blk.mean()), float(blk.min()),
                                     float(blk.max())))
            yield pd.DataFrame(recs, columns=[
                "media_id", "chip_row", "chip_col",
                "mean_px", "min_px", "max_px"])

    return (media.filter(F.col("kind") == "image")
            .select("media_id", "payload")
            .mapInPandas(run, schema=(
                "media_id long, chip_row int, chip_col int, "
                "mean_px double, min_px double, max_px double")))
