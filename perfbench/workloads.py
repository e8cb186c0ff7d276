"""The benchmark's workloads: seeded inputs, the timed call, its checks and
the traced pass.

Every call into the program goes through its public functions:

* pages workloads: the five stages of ``tools/run_pipeline.py`` (extract ->
  encode -> partition plan -> PIP join -> consolidate -> checkpointed sink),
  reading a generated pages parquet instead of calling ``synth_pages``;
* region_inspect: one ``suite.suite_conditions`` call (the CheckRegion
  composition) over generated sf0.01-shaped tables.

``pipeline(..., tr)`` is the same code traced and untraced: ``NoTrace``
makes spans and materialisation no-ops; ``LayerTrace`` wraps each layer call
in a span, tags its Spark jobs with the layer as job group and materialises
the layer's output before the next layer is called.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import gen, oracle
from .trace import Tracer

N_PAGES = 30_000
SINK_PARTITIONS = 16
#: the half of the sink partitions pages_resume finds already committed
RESUME_PARTS = tuple(range(SINK_PARTITIONS // 2))

#: the suite families region_inspect runs: the PIP join, a proximity join
#: and an attribute-conformance join.  All 36 SUITE_FAMILIES take about 140 s
#: per call on 4 cores, longer than one benchmark run may take.
REGION_FAMILIES = (
    "geo_pip",
    "geo_knn",
    "attr_uom_checks",
)

PAGE_LAYERS = (
    "sources.pages",
    "operators.encode",
    "plans.partitioning",
    "operators.pip",
    "conditions",
    "plans.checkpointing",
)
REGION_LAYERS = ("suite", "queries")
LAYERS = PAGE_LAYERS + REGION_LAYERS


def layer_of(group: str) -> str | None:
    """Job group -> layer (``queries.<family>`` groups roll up to queries)."""
    if group.startswith("queries."):
        return "queries"
    return group if group in LAYERS else None


def _hash_expr(cols) -> F.Column:
    return F.expr(f"bit_xor(xxhash64({', '.join(cols)}))")


class NoTrace:
    traced = False

    @contextmanager
    def span(self, name: str, group: str | None = None):
        yield

    def mat(self, df: DataFrame, key: str) -> DataFrame:
        return df


class LayerTrace(Tracer):
    traced = True

    def __init__(self, run_id: str, sc):
        super().__init__(run_id, sc)
        self.counts: dict[str, float] = {}

    def mat(self, df: DataFrame, key: str) -> DataFrame:
        df = df.persist()
        self.counts[key] = df.count()
        return df


# --------------------------------------------------------------------------
# pages pipeline
# --------------------------------------------------------------------------


def pages_stage(spark: SparkSession, pages_path: str, tr) -> tuple[DataFrame, dict]:
    """Stages 1-4 of tools/run_pipeline.py -> the sink's input (with `part`)."""
    from geospatial_analysis_integrity_tool_spark.conditions import consolidate_scalable
    from geospatial_analysis_integrity_tool_spark.operators.encode import encode_cells
    from geospatial_analysis_integrity_tool_spark.operators.pip import pip_join
    from geospatial_analysis_integrity_tool_spark.plans.partitioning import (
        cell_histogram,
        salt_plan,
    )
    from geospatial_analysis_integrity_tool_spark.sources.pages import extract_features

    with tr.span("sources.pages"):
        feats = tr.mat(
            extract_features(spark.read.parquet(pages_path)), "sources.pages.features_out"
        )
    with tr.span("operators.encode"):
        enc = tr.mat(
            encode_cells(feats, hex_res=(7,), s2_levels=(10,)).withColumnRenamed(
                "hex_r7", "cell"
            ),
            "operators.encode.rows",
        )
    with tr.span("plans.partitioning"):
        hist = cell_histogram(enc)
        plan = salt_plan(hist, target_rows_per_task=100_000)
        h = hist.agg(F.count("*").alias("n"), F.max("n_rows").alias("mx")).first()
        part_stats = {
            "plans.partitioning.n_cells": h["n"],
            "plans.partitioning.max_cell_rows": h["mx"] or 0,
            "plans.partitioning.hot_cells": plan.count(),
        }
    with tr.span("operators.pip"):
        matches = tr.mat(
            pip_join(
                enc.withColumnRenamed("cell", "pcell"),
                spark.table("bench_zones"),
                point_id="url",
                poly_id="zone_id",
            ),
            "operators.pip.matches",
        )
    with tr.span("conditions"):
        conds = matches.select(
            F.lit("PTINREGION").alias("errtype"),
            F.lit(1).alias("instance"),
            F.lit(0).cast("bigint").alias("cond_num"),
            F.lit(0).cast("bigint").alias("magnitude_mm"),
            F.concat_ws("#", "url", F.col("ordinal").cast("string")).alias("sedrisid"),
            F.col("zone_id").cast("string").alias("code2"),
            F.col("pcell").alias("cell"),
        )
        consolidated = tr.mat(
            consolidate_scalable(
                conds, cell_col="cell", order_keys=["sedrisid"], dedup=False
            ).withColumn(
                "part", F.expr(f"CAST(pmod(xxhash64(cell), {SINK_PARTITIONS}) AS INT)")
            ),
            "conditions.rows",
        )
    return consolidated, {"enc": enc, **part_stats}


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def pages_sink(spark: SparkSession, consolidated: DataFrame, out_dir: str, tr) -> dict:
    """Stage 5: checkpointed sink, then count + content hash of what it holds."""
    from geospatial_analysis_integrity_tool_spark.plans.checkpointing import (
        lineage,
        run_stage_checkpointed,
    )

    before = len(lineage(out_dir))
    bytes_before = _dir_bytes(out_dir) if os.path.isdir(out_dir) else 0
    with tr.span("plans.checkpointing"):
        out = run_stage_checkpointed(spark, "conditions", consolidated, "part", out_dir)
        row = out.agg(F.count("*").alias("n"), _hash_expr(out.columns).alias("h")).first()
    return {
        "rows": int(row["n"]),
        "hash": int(row["h"] or 0),
        "plans.checkpointing.partitions_written": len(lineage(out_dir)) - before,
        "plans.checkpointing.partitions_skipped": before,
        "plans.checkpointing.bytes_written": _dir_bytes(out_dir) - bytes_before,
    }


def pip_candidates(spark: SparkSession, enc: DataFrame) -> int:
    """Cell-join + bbox-prefilter candidates of the PIP join, recomputed
    through the operator's public cell helpers."""
    from geospatial_analysis_integrity_tool_spark.operators.pip import (
        DEFAULT_CELL_DEG,
        explode_bbox_cells,
        with_point_cell,
    )

    polys = spark.table("bench_zones").select(
        "zone_id",
        F.array_min("xs").alias("_minx"),
        F.array_max("xs").alias("_maxx"),
        F.array_min("ys").alias("_miny"),
        F.array_max("ys").alias("_maxy"),
    )
    meta = explode_bbox_cells(polys, "_minx", "_maxx", "_miny", "_maxy", DEFAULT_CELL_DEG)
    pts = with_point_cell(enc.drop("cell"), "lon", "lat", DEFAULT_CELL_DEG)
    return (
        pts.join(meta, "cell")
        .filter(
            (F.col("lon") >= F.col("_minx"))
            & (F.col("lon") <= F.col("_maxx"))
            & (F.col("lat") >= F.col("_miny"))
            & (F.col("lat") <= F.col("_maxy"))
        )
        .count()
    )


class PagesIngest:
    name = "pages_ingest"
    resume = False

    def __init__(self, seed: int):
        self.seed = seed
        self.pages_path = gen.pages(seed, N_PAGES)
        self.truth = oracle.pages_truth(seed, self.pages_path)
        self.features = self.truth["features"]
        self.hash_key = f"pages_{N_PAGES}"
        self.template: str | None = None

    def register(self, spark: SparkSession) -> None:
        spark.sql(oracle.ZONES_SQL).createOrReplaceTempView("bench_zones")
        spark.read.parquet(self.pages_path).count()
        spark.table("bench_zones").count()

    def prepare(self, spark: SparkSession, run_dir: str) -> None:
        """Untimed per-run preparation after set-up (the resume template)."""
        if not self.resume:
            return
        self.template = os.path.join(run_dir, "resume_template")
        consolidated, _ = pages_stage(spark, self.pages_path, NoTrace())
        half = consolidated.filter(F.col("part").isin(list(RESUME_PARTS)))
        pages_sink(spark, half, self.template, NoTrace())
        spark.catalog.clearCache()

    def fresh_out(self, out_dir: str) -> None:
        shutil.rmtree(out_dir, ignore_errors=True)
        if self.template is not None:
            shutil.copytree(self.template, out_dir)

    def run(self, spark: SparkSession, out_dir: str, tr) -> dict:
        consolidated, stats = pages_stage(spark, self.pages_path, tr)
        return {**pages_sink(spark, consolidated, out_dir, tr), **stats}

    def check(self, res: dict) -> list[str]:
        errs = []
        if res["rows"] != self.truth["matches"]:
            errs.append(f"sink rows {res['rows']} != oracle matches {self.truth['matches']}")
        return errs

    def layer_metrics(
        self, spark: SparkSession, res: dict, tr: LayerTrace
    ) -> tuple[dict, list[str]]:
        c = tr.counts
        cand = pip_candidates(spark, res["enc"])
        m = {
            "sources.pages.features_out": c["sources.pages.features_out"],
            "operators.encode.rows": c["operators.encode.rows"],
            "operators.pip.candidates": cand,
            "operators.pip.matches": c["operators.pip.matches"],
            "operators.pip.hit_ratio": c["operators.pip.matches"] / cand if cand else 0.0,
            "conditions.rows": c["conditions.rows"],
            "plans.checkpointing.bytes_per_condition": (
                res["plans.checkpointing.bytes_written"] / res["rows"] if res["rows"] else 0.0
            ),
        }
        m.update({k: v for k, v in res.items() if k.startswith("plans.")})
        errs = []
        if m["sources.pages.features_out"] != self.truth["features"]:
            errs.append(
                f"extracted {m['sources.pages.features_out']} != oracle features "
                f"{self.truth['features']}"
            )
        if m["operators.pip.matches"] != self.truth["matches"]:
            errs.append(
                f"pip matches {m['operators.pip.matches']} != oracle {self.truth['matches']}"
            )
        return m, errs


class PagesResume(PagesIngest):
    name = "pages_resume"
    resume = True


class RegionInspect:
    name = "region_inspect"

    def __init__(self, seed: int):
        self.seed = seed
        self.sf_dir = gen.tables(seed)
        self.truth = oracle.region_truth(seed, self.sf_dir, REGION_FAMILIES)
        self.features = self.truth["features"]
        self.hash_key = "region_" + "-".join(sorted(REGION_FAMILIES))

    def register(self, spark: SparkSession) -> None:
        from geospatial_analysis_integrity_tool_spark.sources.synthetic import (
            register_geo_views,
        )

        register_geo_views(spark, self.sf_dir)
        spark.table("geo_points").count()

    def prepare(self, spark: SparkSession, run_dir: str) -> None:
        return

    def fresh_out(self, out_dir: str) -> None:
        return

    def run(self, spark: SparkSession, out_dir: str, tr) -> dict:
        import __spark_entry__ as entrymod

        from geospatial_analysis_integrity_tool_spark.suite import (
            conditionize,
            suite_conditions,
        )

        if tr.traced:
            registry = entrymod.queries()
            for fam in REGION_FAMILIES:
                with tr.span(f"queries.{fam}"):
                    conditionize(registry[fam](spark, self.sf_dir), fam).count()
        with tr.span("suite"):
            conds = suite_conditions(spark, self.sf_dir, families=REGION_FAMILIES)
        with tr.span("conditions"):
            rows = (
                conds.groupBy("errtype")
                .agg(F.count("*").alias("n"), _hash_expr(conds.columns).alias("h"))
                .collect()
            )
        h = 0
        for r in rows:
            h ^= int(r["h"] or 0)
        return {
            "rows": sum(int(r["n"]) for r in rows),
            "hash": h,
            "counts": {r["errtype"]: int(r["n"]) for r in rows},
        }

    def check(self, res: dict) -> list[str]:
        want = self.truth["counts"]
        if res["counts"] == want:
            return []
        return [f"per-errtype counts {res['counts']} != oracle {want}"]

    def layer_metrics(
        self, spark: SparkSession, res: dict, tr: LayerTrace
    ) -> tuple[dict, list[str]]:
        return {"conditions.rows": res["rows"]}, []


WORKLOADS = {w.name: w for w in (PagesIngest, PagesResume, RegionInspect)}
