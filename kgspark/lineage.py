"""Checkpointed stage execution with per-partition lineage + metrics.

North-rule requirement: every stage resumable from checkpoint, with
per-partition lineage and counters. The reference's failure story is a
retry loop + logfile of per-request doc ids and timings
(``R/dbpedia.R:460-536``); ours is structural: each stage writes its output
to a checkpoint directory together with a manifest recording the stage
version, row counts, per-file row counts and wall time. Re-running the
pipeline with the same checkpoint root skips every stage whose manifest is
complete and whose version matches — resume = read the parquet back, which
also cuts lineage (no recomputation cascades).

Manifest I/O goes through the Hadoop FileSystem API, so a checkpoint root
on HDFS/S3A (the 10^12-doc deployment) behaves exactly like a local dir —
``os.path`` would silently never resume there. Each stage is written once
and never re-scanned: the read-back takes the frame's own schema (no
inference job), and the per-file row counts come from the parquet footers
of the files actually written, which map 1:1 to the write partitions.
Counts a job needs from a write that is not a stage checkpoint ride that
write as an ``Observation`` (``count_on_write``).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

MANIFEST_NAME = "_kg_manifest.json"
# Stage-output format version: a manifest written under another version
# never resumes, so bumping it invalidates every existing checkpoint.
STAGE_VERSION = "v1"


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def count_on_write(frame: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """``frame`` with a row count attached: the Observation fills when the
    first action over the returned frame (its write) completes, so the
    count needs no pass of its own."""
    obs = Observation(name)
    return frame.observe(obs, F.count(F.lit(1)).alias("n")), obs


def _footer_row_counts(spark: SparkSession, out_dir: str) -> list[dict]:
    """Rows per written ``part-*.parquet`` file, from the parquet footers
    (a metadata read per file, no Spark job)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs, hpath = _hadoop_fs(spark, out_dir)
    per_file = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not (name.startswith("part-") and name.endswith(".parquet")):
            continue
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
        )
        try:
            per_file.append({"file": name, "rows": int(reader.getRecordCount())})
        finally:
            reader.close()
    return sorted(per_file, key=lambda p: p["file"])


def read_manifest(spark: SparkSession, path: str) -> dict | None:
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        reader = spark._jvm.java.io.BufferedReader(
            spark._jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        lines = []
        line = reader.readLine()
        while line is not None:
            lines.append(line)
            line = reader.readLine()
    finally:
        stream.close()
    return json.loads("\n".join(lines))


def write_manifest(spark: SparkSession, path: str, manifest: dict) -> None:
    fs, hpath = _hadoop_fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(json.dumps(manifest, indent=1).encode("utf-8")))
    finally:
        out.close()


class StageRunner:
    def __init__(self, spark: SparkSession, checkpoint_root: str | None):
        self.spark = spark
        self.root = checkpoint_root
        self.enabled = checkpoint_root is not None
        self.metrics: list[dict] = []

    def run(self, name: str, fn: Callable[[], DataFrame]) -> DataFrame:
        """Execute (or resume) one stage.

        Without a checkpoint root the stage stays lazy (pure plan
        composition). With a checkpoint root, the stage output is
        materialized to ``<root>/<name>`` and described in
        ``_kg_manifest.json`` (which also cuts lineage); a stage resumes
        only from a manifest marked complete, so data without one is
        recomputed.
        """
        if not self.enabled:
            return fn()
        out_dir = self.root.rstrip("/") + "/" + name
        manifest_path = out_dir + "/" + MANIFEST_NAME
        manifest = read_manifest(self.spark, manifest_path)
        if manifest and manifest.get("complete") and manifest.get("version") == STAGE_VERSION:
            self.metrics.append({**manifest, "resumed": True})
            return self.spark.read.parquet(out_dir)

        t0 = time.time()
        df = fn()
        df.write.mode("overwrite").parquet(out_dir)
        per_file = _footer_row_counts(self.spark, out_dir)
        manifest = {
            "stage": name,
            "version": STAGE_VERSION,
            "complete": True,
            "output_rows": sum(p["rows"] for p in per_file),
            "partitions": per_file,
            "wall_sec": round(time.time() - t0, 3),
            "resumed": False,
        }
        write_manifest(self.spark, manifest_path, manifest)
        self.metrics.append(manifest)
        return self.spark.read.schema(df.schema).parquet(out_dir)
