"""Query registry: each submodule exports QUERIES (name -> callable(spark, sf_dir)
-> DataFrame) and ORACLES (name -> DuckDB SQL text).  __spark_entry__.py at the
repo root aggregates them for the driver's correctness gate."""

from __future__ import annotations

import importlib
import pkgutil


def all_queries():
    q: dict = {}
    o: dict = {}
    for info in pkgutil.iter_modules(__path__):
        mod = importlib.import_module(f"{__name__}.{info.name}")
        if not hasattr(mod, "QUERIES"):
            continue
        dup = q.keys() & mod.QUERIES.keys()
        assert not dup, f"query names registered twice: {sorted(dup)}"
        q.update(mod.QUERIES)
        o.update(mod.ORACLES)
    # composition gate: built FROM the registered per-family entries so the
    # oracle text is exactly the gated SQL (see suiteq.py docstring)
    from . import suiteq

    sq, so = suiteq.build(q, o)
    q.update(sq)
    o.update(so)
    return q, o
