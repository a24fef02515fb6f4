"""End-to-end checkpointed pipeline: run, resume, spark-submit packaging."""

import importlib.util
import json
import os
import shutil
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_pipeline():
    spec = importlib.util.spec_from_file_location(
        "run_pipeline", os.path.join(REPO, "tools", "run_pipeline.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _manifest_times(root):
    out = {}
    for stage in ("extract", "cells", "pip", "rollup"):
        mp = os.path.join(root, stage, "_MANIFEST.json")
        with open(mp) as f:
            out[stage] = json.load(f)["written_at_unix_ms"]
    return out


def test_pipeline_run_resume_and_partial_invalidation(spark, tmp_path):
    mod = _load_pipeline()
    root = str(tmp_path / "ckpt")

    out1 = mod.run(spark, "synth:20000", root, res=12, salt=4)
    assert out1["extracted"] > 15000
    assert out1["pip_pairs"] > 0
    assert out1["rollup_cells"] > 0
    t1 = _manifest_times(root)

    # identical inputs → every stage resumes from checkpoint (no rewrite)
    out2 = mod.run(spark, "synth:20000", root, res=12, salt=4)
    assert out2 == out1 or (
        out2["extracted"] == out1["extracted"]
        and out2["pip_pairs"] == out1["pip_pairs"]
        and out2["rollup_cells"] == out1["rollup_cells"]
    )
    assert _manifest_times(root) == t1

    # res change → cells + rollup rerun; extract + pip stay checkpointed
    out3 = mod.run(spark, "synth:20000", root, res=10, salt=4)
    t3 = _manifest_times(root)
    assert t3["extract"] == t1["extract"]
    assert t3["pip"] == t1["pip"]
    assert t3["cells"] > t1["cells"]
    assert t3["rollup"] > t1["rollup"]
    assert out3["extracted"] == out1["extracted"]

    # salt changes neither the PIP rows nor the pip stage's fingerprint
    out4 = mod.run(spark, "synth:20000", root, res=10, salt=2)
    assert _manifest_times(root)["pip"] == t1["pip"]
    assert out4["pip_pairs"] == out1["pip_pairs"]


def test_spark_submit_py_files(tmp_path):
    """The north rule's packaging path: spark-submit --py-files with the
    zipped package runs the pipeline end to end."""
    zip_path = str(tmp_path / "zen3geo_spark.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for dirpath, _, files in os.walk(os.path.join(REPO, "zen3geo_spark")):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, REPO))

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    out_dir = str(tmp_path / "ckpt")
    # run a COPY of the script from tmp so the zen3geo_spark package can
    # only come from the --py-files zip, not the checkout
    script = str(tmp_path / "run_pipeline.py")
    shutil.copy(os.path.join(REPO, "tools", "run_pipeline.py"), script)
    p = subprocess.run(
        [spark_submit, "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.session.timeZone=UTC",
         "--py-files", zip_path,
         script,
         "--pages", "synth:5000", "--out", out_dir],
        capture_output=True, text=True, timeout=420,
        cwd=str(tmp_path),  # NOT the repo: proves the zip supplies the package
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert p.returncode == 0, p.stderr[-2000:]
    line = [l for l in p.stdout.splitlines() if l.startswith("{")][-1]
    res = json.loads(line)
    assert res["extracted"] > 3000
    assert res["rollup_cells"] > 0
    assert os.path.exists(os.path.join(out_dir, "pip", "_MANIFEST.json"))


def test_driver_contract_key_alignment():
    """Every oracle_sql() key must have a queries() entry and vice versa:
    every query (including the iterative trained-IVF) carries a
    value-hash oracle, and a query removed from the contract takes its
    oracle with it."""
    import __spark_entry__ as E

    q = set(E.queries())
    o = set(E.oracle_sql())
    assert o == q, (q - o, o - q)


def test_checkpoint_runner_releases_cached_blocks(spark, tmp_path):
    """A multi-stage run must not accumulate cached/localCheckpoint
    blocks: after each stage materializes to its checkpoint table, the
    runner drops every persistent RDD the stage CREATED (minhash/
    jaccard/CC intermediates localCheckpoint internally) — while leaving
    blocks that existed before the stage untouched (they may be
    caller-owned localCheckpoint frames whose truncated lineage cannot
    recompute; unpersisting them would poison the caller's next action)."""
    from zen3geo_spark.operators.dedup import minhash_lsh_candidates
    from zen3geo_spark.plans.checkpoint import CheckpointRunner

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 7} epsilon zeta") for i in range(40)],
        "doc_id long, text string")
    before_ids = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    runner = CheckpointRunner(spark, str(tmp_path / "ckpt"))
    out = runner.stage(
        "cand", "fp1",
        lambda: minhash_lsh_candidates(docs, num_hashes=8, bands=4))
    assert out.count() > 0
    after_ids = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    leaked = after_ids - before_ids
    assert not leaked, f"stage leaked persistent RDDs: {sorted(leaked)}"


def test_compaction_plan_greedy_fill_golden(spark):
    """Largest-first fill: sizes 600,500,400,300 at target 1000 cut
    into run-sum bins [600,500] (runs 600,1100 -> grps 0,1? no:
    (600-1)//1000=0, (1100-1)//1000=1) ... asserted explicitly."""
    from zen3geo_spark.plans.compaction import compaction_plan

    files = spark.createDataFrame(
        [("p", 1, 600), ("p", 2, 500), ("p", 3, 400), ("p", 4, 300)],
        "part string, file_id long, mb long")
    out = {r.grp: (r.n_files, r.total_bytes, r.min_file, r.max_file)
           for r in compaction_plan(files, "part", "file_id", "mb",
                                    target_bytes=1000).collect()}
    # running sums (desc order): 600, 1100, 1500, 1800
    # grps: 0, 1, 1, 1 -> grp0 is a single file (excluded), grp1 packs 3
    assert out == {1: (3, 1200, 2, 4)}


def test_compaction_plan_partition_isolated_and_deterministic(spark):
    """Bins never cross partitions; equal sizes tie-break by file id."""
    from zen3geo_spark.plans.compaction import compaction_plan

    files = spark.createDataFrame(
        [("a", 10, 100), ("a", 11, 100), ("b", 20, 100), ("b", 21, 100)],
        "part string, file_id long, mb long")
    out = {(r.partition, r.grp): (r.min_file, r.max_file)
           for r in compaction_plan(files, "part", "file_id", "mb",
                                    target_bytes=1000).collect()}
    assert out == {("a", 0): (10, 11), ("b", 0): (20, 21)}


def test_compaction_plan_already_compact_files_excluded(spark):
    """A partition whose files each exceed the target produces no
    rewrite groups (every bin is a singleton)."""
    from zen3geo_spark.plans.compaction import compaction_plan

    files = spark.createDataFrame(
        [("p", 1, 2000), ("p", 2, 1500)],
        "part string, file_id long, mb long")
    out = compaction_plan(files, "part", "file_id", "mb",
                          target_bytes=1000).collect()
    assert out == []
