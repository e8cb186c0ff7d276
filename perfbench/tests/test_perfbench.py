"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen, metrics, oracle
from perfbench.trace import Span, parse_event_log, self_times
from perfbench.workloads import REGION_FAMILIES, layer_of

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _read_dir(path: str) -> dict:
    return {
        f: pq.read_table(os.path.join(path, f))
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet")
    }


def test_tables_deterministic_per_seed(data_root):
    a = _read_dir(gen.tables(3))
    b = {n: gen._tables(3)[n.removesuffix(".parquet")] for n in a}
    assert a.keys() == {f"{t}.parquet" for t in gen.SF001_ROWS}
    for name in a:
        assert a[name].equals(b[name]), name
        assert a[name].num_rows == gen.SF001_ROWS[name.removesuffix(".parquet")]


def test_tables_differ_between_seeds():
    a, b = gen._tables(3), gen._tables(4)
    for name in ("orders", "supplier", "part", "lineitem", "customer"):
        assert not a[name].equals(b[name]), name
    # customer and nation keys stay put; shifted keys move together
    assert a["customer"]["c_custkey"].equals(b["customer"]["c_custkey"])
    assert a["nation"].equals(b["nation"])
    sh = gen.key_shifts(4)
    ok = b["orders"]["o_orderkey"].to_numpy()
    assert ok.min() == sh["orders"]
    lk = b["lineitem"]["l_orderkey"].to_numpy()
    assert np.isin(lk, ok).all()
    assert np.isin(b["lineitem"]["l_partkey"].to_numpy(), b["part"]["p_partkey"].to_numpy()).all()


def test_pages_deterministic_per_seed(data_root):
    p1 = gen.pages(5, 400)
    t1 = pq.read_table(p1)
    os.rename(p1, p1 + ".old")
    t2 = pq.read_table(gen.pages(5, 400))
    assert t1.equals(t2)
    t3 = pq.read_table(gen.pages(6, 400))
    assert t1.num_rows == t3.num_rows == 400
    assert not t1.column("html").equals(t3.column("html"))
    assert len(os.listdir(p1 + ".old")) == gen.PAGES_FILES


def test_pages_offset_bounded_for_any_seed():
    n = 30_000
    for seed in (0, 1, 2**31 - 1, 2**63 + 5, -3, 10**30):
        off = gen.pages_offset(seed, n)
        assert off == gen.pages_offset(seed, n)
        assert 0 <= off and off + n <= gen.PAGE_INDEX_LIMIT
    assert gen.pages_offset(1, n) != gen.pages_offset(2, n)


def test_large_and_negative_seeds(data_root):
    for seed in (2**40 + 17, -7):
        assert pq.read_table(gen.pages(seed, 100)).num_rows == 100
        assert _read_dir(gen.tables(seed))["orders.parquet"].num_rows == gen.SF001_ROWS["orders"]


def test_pages_truth_counts_generated_spans(data_root):
    n = 300
    truth = oracle.pages_truth(7, gen.pages(7, n))
    idx = np.arange(n) + gen.pages_offset(7, n)
    # the page synthesis embeds (idx * 13) % 5 geo spans per page
    assert truth["features"] == int(((idx * 13) % 5).sum())
    assert 0 < truth["matches"] < truth["features"] * oracle.ZONE_COUNT


def test_every_view_and_family_non_empty(data_root):
    for seed in (1, 2):
        d = gen.tables(seed)
        counts = oracle.view_counts(d)
        assert counts and all(n > 0 for n in counts.values()), counts
        truth = oracle.region_truth(seed, d, REGION_FAMILIES)
        assert set(truth["counts"]) == {f.upper() for f in REGION_FAMILIES}
        assert all(n > 0 for n in truth["counts"].values()), truth
        assert truth["features"] > 0


def test_metric_names_and_benchmark_json_agree():
    for name in (*metrics.END_TO_END, *metrics.PER_LAYER):
        assert metrics.NAME_RE.fullmatch(name), name
        assert len(name) <= 64
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    per = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert per == metrics.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("run", 0.0, 10.0, None, "r"),
        Span("a", 1.0, 4.0, "run", "r"),
        Span("b", 3.0, 6.0, "run", "r"),  # overlaps a: union 1..6
        Span("c", 9.0, 12.0, "run", "r"),  # clipped to 9..10
        Span("a1", 2.0, 3.0, "a", "r"),
        Span("run", 0.0, 1.0, None, "other"),  # another run's span
    ]
    st = self_times(spans)
    assert st["run"] == 10.0 - 6.0 + 1.0
    assert st["a"] == 3.0 - 1.0
    assert st["b"] == 3.0
    assert st["c"] == 3.0
    assert st["a1"] == 1.0


def test_event_log_parser(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "operators.pip"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "queries.geo_knn"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "bench"}},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Stage IDs": [4],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000,
            "Memory Bytes Spilled": 1_000_000, "Disk Bytes Spilled": 500_000,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3_000_000},
            "Shuffle Read Metrics": {"Fetch Wait Time": 250}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 1_000_000_000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor CPU Time": 500_000_000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {
            "Executor CPU Time": 9_000_000_000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4, "Task Metrics": {
            "Executor CPU Time": 9_000_000_000}},
    ]
    path = tmp_path / "app"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    out = parse_event_log(str(path), layer_of)
    assert set(out) == {"operators.pip", "queries"}
    pip = out["operators.pip"]
    assert pip["jobs"] == 1 and pip["tasks"] == 2
    assert pip["task_cpu_s"] == 3.0
    assert pip["shuffle_write_mb"] == 3.0
    assert pip["shuffle_fetch_wait_s"] == 0.25
    assert pip["spill_mb"] == 1.5
    assert out["queries"]["tasks"] == 1 and out["queries"]["task_cpu_s"] == 0.5


def test_percentile_needs_ten_samples_beyond():
    assert metrics.percentile_with_tail([1.0] * 19) is None
    label, _ = metrics.percentile_with_tail([float(i) for i in range(20)])
    assert label == "p50"
    label, _ = metrics.percentile_with_tail([float(i) for i in range(100)])
    assert label == "p90"
