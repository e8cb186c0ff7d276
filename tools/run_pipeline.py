"""End-to-end engine pipeline, spark-submit entry point (north rule: "runs
via spark-submit --py-files ... resumable from checkpoint with per-partition
lineage + metrics").

Stages (SURVEY.md §7.0):
  1. extract    pages -> geocoded features        (byte-identical text kernel)
  2. encode     features -> hex_r7..r9 + s2_l10   (deterministic cells)
  3. partition  cell histogram -> hot-cell plan    (printed as metrics)
  4. check      PIP join vs zone dims + single-feature sanity
  5. export     conditions consolidated + checkpointed parquet w/ lineage

Usage:
    python tools/run_pipeline.py [n_pages] [out_dir]
    spark-submit tools/run_pipeline.py 10000 /tmp/gait_out

Re-running with the same out_dir resumes: completed partitions are skipped
(plans/checkpointing.py manifest), new cells are computed and appended.
"""

from __future__ import annotations

import json
import os
import sys
import time

try:  # the spark-submit --py-files path: package zip already importable
    import geospatial_analysis_integrity_tool_spark  # noqa: F401
except ImportError:  # plain `python tools/run_pipeline.py` from a checkout
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(n_pages: int, out_dir: str) -> dict:
    from pyspark.sql import functions as F

    from geospatial_analysis_integrity_tool_spark.conditions import consolidate_scalable
    from geospatial_analysis_integrity_tool_spark.operators.encode import encode_cells
    from geospatial_analysis_integrity_tool_spark.operators.pip import pip_join
    from geospatial_analysis_integrity_tool_spark.plans.checkpointing import (
        lineage,
        run_stage_checkpointed,
    )
    from geospatial_analysis_integrity_tool_spark.plans.partitioning import (
        cell_histogram,
        salt_plan,
    )
    from geospatial_analysis_integrity_tool_spark.session import get_spark
    from geospatial_analysis_integrity_tool_spark.sources.pages import (
        extract_features,
        synth_pages,
    )

    spark = get_spark("gait-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    metrics: dict = {"n_pages": n_pages}

    # 1. extract
    pages = synth_pages(spark, n_pages)
    feats = extract_features(pages)

    # 2. encode (hex res 7 as the partition cell)
    enc = encode_cells(feats, hex_res=(7,), s2_levels=(10,))
    enc = enc.withColumnRenamed("hex_r7", "cell")

    # 3. partition plan (reported as metrics; no join here consumes it)
    hist = cell_histogram(enc)
    plan = salt_plan(hist, target_rows_per_task=100_000)
    metrics["n_cells"] = hist.count()
    metrics["hot_cells"] = plan.count()

    # 4. checks: PIP vs deterministic zone dims + fcode conformance
    zones = spark.range(40).selectExpr(
        "id AS zone_id",
        "CAST((id * 2641) % 6400 AS DOUBLE) / 20.0 - 160.0 AS cx",
        "CAST((id * 1871) % 1800 AS DOUBLE) / 20.0 - 45.0 AS cy",
    ).selectExpr(
        "zone_id",
        "array(cx + 0.0012, cx - 8.2035, cx + 8.3057) AS xs",
        "array(cy + 9.5068, cy - 6.1046, cy - 6.2023) AS ys",
    )
    matches = pip_join(
        enc.withColumnRenamed("cell", "pcell"),
        zones,
        point_id="url",
        poly_id="zone_id",
    )
    conds = matches.select(
        F.lit("PTINREGION").alias("errtype"),
        F.lit(1).alias("instance"),
        F.lit(0).cast("bigint").alias("cond_num"),
        F.lit(0).cast("bigint").alias("magnitude_mm"),
        F.concat_ws("#", "url", F.col("ordinal").cast("string")).alias("sedrisid"),
        F.col("zone_id").cast("string").alias("code2"),
        F.col("pcell").alias("cell"),
    )
    consolidated = consolidate_scalable(
        conds, cell_col="cell", order_keys=["sedrisid"], dedup=False
    )

    # 5. export with per-partition lineage + resume (16 cell-hash buckets —
    # at scale this is the hex_r7 cell itself)
    # (hash, not modulo: hex ids pad unused digit slots with 7s, so the low
    # bits are near-constant)
    consolidated = consolidated.withColumn(
        "part", F.expr("CAST(pmod(xxhash64(cell), 16) AS INT)")
    )
    out = run_stage_checkpointed(spark, "conditions", consolidated, "part", out_dir)
    metrics["n_conditions"] = out.count()
    metrics["wall_sec"] = round(time.time() - t0, 2)
    metrics["lineage_partitions"] = len(lineage(out_dir))
    print(json.dumps(metrics))
    return metrics


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/gait_pipeline_out"
    main(n, out)
