"""Resumable per-partition checkpoints with lineage (north rule: "resumable
from checkpoint with per-partition lineage + metrics").

The reference's only resumability is the reloadable condition report
(GAIT_API.h:62-72); the engine generalizes it: a stage writes its output
parquet *partitioned by the tile cell column*, and a JSON manifest records,
per partition, the rows written and a content hash.  Re-running the stage

1. reads the manifest,
2. skips partitions already marked done (their files are authoritative),
3. recomputes only missing partitions, each written by idempotent
   dynamic-partition overwrite (exactly-once per partition key).

On a real cluster the same structure maps onto Iceberg partition-level commits
and snapshot ids; parquet + manifest keeps it dependency-free here.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_gait_manifest.json")


def read_manifest(out_dir: str) -> dict:
    p = _manifest_path(out_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"stage": None, "partitions": {}}


def write_manifest(out_dir: str, manifest: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    tmp = _manifest_path(out_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(out_dir))


def run_stage_checkpointed(
    spark: SparkSession,
    stage: str,
    df: DataFrame,
    partition_col: str,
    out_dir: str,
) -> DataFrame:
    """Compute df once per partition value, resumably; returns the full output.

    Lineage per partition: rows, content hash (order-insensitive), wall time,
    engine stage name — queryable provenance for every output tile.
    """
    manifest = read_manifest(out_dir)
    manifest["stage"] = stage
    done = set(manifest["partitions"])

    done_vals = [int(v) for v in done]
    remaining = df
    if done:
        remaining = df.filter(~F.col(partition_col).isin(done_vals))

    # A partition directory the manifest does not list was never committed
    # (a crashed run wrote it but did not record it): drop it so its rows
    # neither leak into the output nor get hashed into this run's lineage.
    if os.path.isdir(out_dir):
        prefix = f"{partition_col}="
        for name in os.listdir(out_dir):
            if name.startswith(prefix) and name[len(prefix):] not in done:
                shutil.rmtree(os.path.join(out_dir, name))

    t0 = time.time()
    # Exactly-once per partition key: dynamic partition OVERWRITE, so a
    # crash between the parquet write and write_manifest (or a partially
    # committed job) leaves partitions that the next run REPLACES rather
    # than appends to — no duplicate rows on resume.  No emptiness probe
    # first: it would evaluate the whole stage input a second time, and an
    # empty write commits no partition.
    (
        remaining.repartition(F.col(partition_col))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(out_dir)
    )
    wall = time.time() - t0
    # Lineage comes from reading BACK the committed files (cheap columnar
    # scan), not from a second evaluation of the stage plan — at 100 TB a
    # pre-write stats pass would double the stage's compute.  Partition
    # values round-trip through directory names, so cast the read-back
    # columns to the stage schema before hashing (parquet partition
    # inference narrows types and moves the column last).
    back = spark.read.parquet(out_dir).select(
        *[F.col(c).cast(df.schema[c].dataType) for c in df.columns]
    )
    if done:
        back = back.filter(~F.col(partition_col).isin(done_vals))
    cols = ", ".join(df.columns)
    stats = (
        back.groupBy(partition_col)
        .agg(
            F.count("*").alias("rows"),
            # order-insensitive, overflow-free content hash (ANSI-safe)
            F.expr(f"bit_xor(xxhash64({cols}))").alias("content_hash"),
        )
        .collect()
    )
    for r in stats:
        manifest["partitions"][str(r[partition_col])] = {
            "rows": int(r["rows"]),
            "content_hash": int(r["content_hash"]) if r["content_hash"] is not None else 0,
            "stage": stage,
            "wall_sec": round(wall, 3),
        }
    write_manifest(out_dir, manifest)
    return spark.read.parquet(out_dir)


def lineage(out_dir: str) -> dict:
    """Per-partition lineage/metrics recorded by the last runs."""
    return read_manifest(out_dir)["partitions"]
