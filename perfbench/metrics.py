"""Metric catalogue: every metric the benchmark prints, with unit and the
direction that is better.  BENCHMARK.json lists the same names (a test
checks that they agree)."""

from __future__ import annotations

import re
import statistics

from .trace import COUNTERS
from .workloads import LAYERS, PAGE_LAYERS, REGION_FAMILIES

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

#: name -> (unit, better); printed with --trace 0
END_TO_END = {
    "setup_s": ("s", "lower"),
    "run_s": ("s", "lower"),
    "features_per_s": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

_COUNTER_UNITS = {
    "tasks": ("count", "lower"),
    "task_cpu_s": ("s", "lower"),
    "shuffle_write_mb": ("MB", "lower"),
    "shuffle_fetch_wait_s": ("s", "lower"),
    "spill_mb": ("MB", "lower"),
}

#: name -> (unit, better); printed with --trace 1
PER_LAYER = {
    **{f"{layer}.s": ("s", "lower") for layer in PAGE_LAYERS},
    "suite.build_s": ("s", "lower"),
    "suite.build_jobs": ("count", "lower"),
    **{f"queries.{fam}.s": ("s", "lower") for fam in REGION_FAMILIES},
    "sources.pages.features_out": ("count", "higher"),
    "operators.encode.rows": ("count", "lower"),
    "operators.pip.candidates": ("count", "lower"),
    "operators.pip.matches": ("count", "higher"),
    "operators.pip.hit_ratio": ("ratio", "higher"),
    "plans.partitioning.n_cells": ("count", "lower"),
    "plans.partitioning.hot_cells": ("count", "lower"),
    "plans.partitioning.max_cell_rows": ("count", "lower"),
    "conditions.rows": ("count", "higher"),
    "plans.checkpointing.partitions_written": ("count", "lower"),
    "plans.checkpointing.partitions_skipped": ("count", "higher"),
    "plans.checkpointing.bytes_written": ("bytes", "lower"),
    "plans.checkpointing.bytes_per_condition": ("bytes", "lower"),
    **{
        f"{layer}.{c}": _COUNTER_UNITS[c]
        for layer in LAYERS
        for c in COUNTERS
    },
    "tracing_overhead_s": ("s", "lower"),
}


def percentile_with_tail(samples: list[float], min_tail: int = 10):
    """Highest of p50/p90/p99/p99.9 with at least ``min_tail`` samples above
    it, as (label, value); None when there are too few samples."""
    n = len(samples)
    best = None
    for permille in (500, 900, 990, 999):
        if n * (1000 - permille) < min_tail * 1000:
            break
        qs = statistics.quantiles(samples, n=1000, method="inclusive")
        best = (f"p{permille / 10:g}", qs[permille - 1])
    return best


def render(values: dict[str, float], catalogue: dict) -> dict:
    """{name: {"value", "unit"}} for every catalogue name (missing -> 0)."""
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, (unit, _) in catalogue.items()
    }
