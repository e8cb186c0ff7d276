"""Sanity tests over the transcribed schema dimension tables.

The transcriptions are pure data (tools/transcribe_schema_tables.py);
these tests pin the volumes and structural invariants the queries rely on,
so a bad re-transcription fails fast and visibly.
"""

from __future__ import annotations

from geospatial_analysis_integrity_tool_spark.functions import tds_isf_table as isf
from geospatial_analysis_integrity_tool_spark.functions.mgcp_combos import (
    MGCP3_ILLEGALAREACOMBOS,
    MGCP3_WARNAREACOMBOS,
    MGCP4_ILLEGALAREACOMBOS,
    MGCP4_WARNAREACOMBOS,
)
from geospatial_analysis_integrity_tool_spark.functions.schema_labels import ecc_label, eac_label
from geospatial_analysis_integrity_tool_spark.functions.schema_models import (
    all_models,
    ee_label,
    enum_value_labels,
    model_names,
)
from geospatial_analysis_integrity_tool_spark.functions.schema_nunanpo import (
    all_nunanpo,
    nunanpo_models,
)


def test_isf_matrices_shapes():
    assert isf.ISF_N == 225 and len(isf.ISF_MATRIX) == 225 * 225
    assert isf.ISF6_N == 228 and len(isf.ISF6_MATRIX) == 228 * 228
    for n, m in ((isf.ISF_N, isf.ISF_MATRIX), (isf.ISF6_N, isf.ISF6_MATRIX)):
        assert set(m) <= set("negw")
        # the matrices are upper-triangular: the strict lower triangle is 'n'
        lower = [m[i * n + j] for i in range(n) for j in range(i)]
        assert set(lower) == {"n"}


def test_schema_models_volumes():
    assert len(model_names()) == 16
    m = all_models()
    assert len(m["NFDD"]["classes"]) == 775
    assert len(m["NFDD"]["attrs"]) == 2126
    assert sum(len(v) for v in m["NFDD"]["enums"].values()) == 28190
    assert len(m["MGCP3"]["classes"]) == 185
    assert len(m["TDS6"]["attrs"]) == 552
    for name, t in m.items():
        assert len(t["classes"]) == len(t["class_names"]), name
        assert len(t["attrs"]) == len(t["attr_names"]) == len(t["attr_types"]), name
        for a, vals in t["enums"].items():
            assert len(t["enum_labels"][a]) == len(vals), (name, a)
            assert len(vals) == len(set(vals)), (name, a)  # codes unique


def test_label_lookups():
    assert ecc_label("MGCP3", "AL015") == "Building"
    assert ecc_label("MGCP3", "AP030") == "Road"
    assert eac_label("MGCP3", "HGT") == "Height Above Surface Level"
    assert ecc_label("NFDD", "ZZ_NOT_A_CODE") == "Error"
    assert ee_label("MGCP3", "HWT", "2") == "Cathedral"
    assert ee_label("MGCP3", "HWT", "99999") == "Error"
    # every model resolves at least one class label
    for name in model_names():
        t = all_models()[name]
        assert ecc_label(name, t["classes"][0]) == t["class_names"][0]


def test_enum_label_map_size():
    d = enum_value_labels("TDS6")
    assert len(d) == 7675


def test_mgcp_combo_volumes():
    assert len(MGCP3_ILLEGALAREACOMBOS) == 484
    assert len(MGCP3_WARNAREACOMBOS) == 3719
    assert len(MGCP4_ILLEGALAREACOMBOS) == 483
    assert len(MGCP4_WARNAREACOMBOS) == 3722
    for pairs in (MGCP3_ILLEGALAREACOMBOS, MGCP4_WARNAREACOMBOS):
        assert all(len(a) == 5 and len(b) == 5 for a, b in pairs)


def test_nunanpo_volumes():
    assert set(nunanpo_models()) == {
        "D4", "DFDD", "FLDB", "GGDM3", "NFDD", "UFD1", "UFD2", "UFD3",
    }
    n = all_nunanpo()
    assert sum(len(v) for v in n["NFDD"].values()) == 31511
    # nunanpo domains are supersets-or-overlapping of the strict ones for
    # shared attrs: every strict attr with a nunanpo slice keeps its codes
    strict = all_models()["NFDD"]["enums"]
    shared = set(strict) & set(n["NFDD"])
    assert len(shared) > 1000


def test_all_queries_import_from_pyfiles_zip(tmp_path):
    """The query registry loads with the package imported from the
    ``--py-files`` zip alone: the schema JSON is package data, not a path."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from tools.make_pyfiles import build

    zip_path = build(str(tmp_path / "gait_spark.zip"))
    script = (
        "import sys\n"
        f"sys.path[:] = [{zip_path!r}] + [p for p in sys.path if p not in ('', {repo!r})]\n"
        "import geospatial_analysis_integrity_tool_spark as pkg\n"
        f"assert pkg.__file__.startswith({zip_path!r}), pkg.__file__\n"
        "from geospatial_analysis_integrity_tool_spark.queries import all_queries\n"
        "q, o = all_queries()\n"
        "print(len(q))\n"
    )
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.split()[-1] == "307"
