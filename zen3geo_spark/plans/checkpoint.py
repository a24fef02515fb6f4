"""Stage checkpointing with per-partition lineage + metrics, resumable.

North rule (BASELINE.json:6,14): "Every stage checkpoints to Iceberg with
per-partition lineage and metrics so runs resume mid-job." No Iceberg
runtime jar ships in this sandbox, so checkpoints are Spark-catalog Parquet
tables with an explicit ``_MANIFEST`` sidecar carrying the same metadata an
Iceberg snapshot would (stage, partition, input fingerprint, row count,
wall ms); swapping in a real Iceberg catalog changes
``format('parquet')`` → ``format('iceberg')`` and drops the manifest —
a config change, not a code change.

Resume semantics: resume is per STAGE, keyed by the caller's input
fingerprint. A stage whose manifest carries the same fingerprint and is
complete is read back instead of recomputed. Otherwise the manifest is
deleted first, then the whole data dir is overwritten (``partitionBy``
when a partition column is given), so a failed or changed rerun can never
resume stale data. There is no partition-level resume: a stage is either
complete or rebuilt. The manifest's per-partition row counts come from
the written files' Parquet footers, read on the driver, and the built
frame's schema is kept in the manifest and handed to the reader, so a
fresh stage costs exactly its write job and a resumed stage no job at all
(no read-back counts, no schema inference). A partition column therefore
keeps the build's type instead of the one inferred from directory names.
A manifest without a schema counts as incomplete.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections.abc import Callable
from contextlib import suppress
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class CheckpointRunner:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _persistent_rdd_ids(self) -> set[int]:
        # py4j exposes the java Map as a dict view keyed by RDD id
        return set(self.spark.sparkContext._jsc.getPersistentRDDs().keys())

    def _release_blocks(self, before_ids: set[int]) -> None:
        """Unpersist persistent RDDs that appeared since ``before_ids``
        was snapshotted: persist()/localCheckpoint blocks created inside
        the stage build are dead weight once the stage output lives in
        the checkpoint table. The release is scoped to the stage because
        RDDs persisted BEFORE it may be caller-owned localCheckpoint-ed
        frames (``minhash_lsh_candidates``, ``with_global_pos``) whose
        truncated lineage cannot recompute: unpersisting them would make
        the caller's next action fail with "Checkpoint block not found".
        catalog.clearCache would not cover raw RDD blocks anyway."""
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        for rdd_id in list(jmap.keys()):
            if rdd_id not in before_ids:
                jmap[rdd_id].unpersist()

    def _paths(self, stage: str) -> tuple[str, str]:
        return f"{self.root}/{stage}/data", f"{self.root}/{stage}/_MANIFEST.json"

    def _read_manifest(self, stage: str) -> dict:
        _, mpath = self._paths(stage)
        if os.path.exists(mpath):
            with open(mpath) as f:
                return json.load(f)
        return {}

    def _write_manifest(self, stage: str, manifest: dict) -> None:
        _, mpath = self._paths(stage)
        os.makedirs(os.path.dirname(mpath), exist_ok=True)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, mpath)

    @staticmethod
    def _partition_rows(dpath: str, partition_col: str | None) -> dict[str, int]:
        """Rows per partition from the written files' Parquet footers
        (driver-side metadata reads, no Spark job). Hidden and ``_``
        files (checksums, ``_SUCCESS``) do not match the glob."""
        rows: dict[str, int] = {} if partition_col else {"__all__": 0}
        for path in glob.glob(f"{dpath}/**/*.parquet", recursive=True):
            part = "__all__"
            if partition_col is not None:
                part = unquote(os.path.basename(os.path.dirname(path)).split("=", 1)[1])
            rows[part] = rows.get(part, 0) + pq.read_metadata(path).num_rows
        return rows

    def stage(self, name: str, fingerprint: str, build: Callable[[], DataFrame],
              partition_col: str | None = None) -> DataFrame:
        """Run (or resume) a checkpointed stage and return its output.

        fingerprint: caller-supplied lineage key of the stage's INPUT (e.g.
        upstream stage fingerprints + parameters). Any change reruns.
        """
        dpath, mpath = self._paths(name)
        m = self._read_manifest(name)
        if m.get("fingerprint") == fingerprint and m.get("complete") and "schema" in m:
            return self.spark.read.schema(StructType.fromJson(m["schema"])).parquet(dpath)

        # the data dir is about to be replaced: a rewrite that fails must
        # not leave behind a manifest vouching for it
        with suppress(FileNotFoundError):
            os.remove(mpath)
        before_ids = self._persistent_rdd_ids()
        built = build()
        schema = built.schema
        writer = built.write.mode("overwrite")
        if partition_col is not None:
            writer = writer.partitionBy(partition_col)
        t0 = time.time()
        writer.parquet(dpath)
        wall_ms = int((time.time() - t0) * 1000)
        self._release_blocks(before_ids)

        rows = self._partition_rows(dpath, partition_col)
        self._write_manifest(name, {
            "stage": name,
            "fingerprint": fingerprint,
            "complete": True,
            "wall_ms": wall_ms,
            "partitions": [{"partition": p, "rows": n, "wall_ms": wall_ms}
                           for p, n in sorted(rows.items())],
            "written_at_unix_ms": int(time.time() * 1000),
            "schema": schema.jsonValue(),
        })
        return self.spark.read.schema(schema).parquet(dpath)

    def metrics(self, stage: str) -> dict:
        return self._read_manifest(stage)
