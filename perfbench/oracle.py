"""Output checks that do not trust the program, computed once per seed in DuckDB.

* pages: features are the geo spans the generator wrote into the html, found
  with DuckDB's own regex; the expected match count is an even-odd ray cast
  of those coordinates against the 40 zone triangles, written here in SQL.
* region: each family's condition count must equal the row count of that
  family's ``oracle_sql()`` on the same generated tables.

Results are cached as JSON next to the seed's inputs.
"""

from __future__ import annotations

import json
import os

import duckdb

from . import gen

#: the 40 zone triangles of tools/run_pipeline.py, as (id, cx, cy) plus
#: per-vertex offsets; ZONES_SQL is Spark SQL for the program's input
ZONE_COUNT = 40
_DX = (0.0012, -8.2035, 8.3057)
_DY = (9.5068, -6.1046, -6.2023)
ZONES_SQL = f"""
SELECT zone_id,
       array(cx + {_DX[0]}, cx + {_DX[1]}, cx + {_DX[2]}) AS xs,
       array(cy + {_DY[0]}, cy + {_DY[1]}, cy + {_DY[2]}) AS ys
FROM (SELECT id AS zone_id,
             CAST((id * 2641) % 6400 AS DOUBLE) / 20.0 - 160.0 AS cx,
             CAST((id * 1871) % 1800 AS DOUBLE) / 20.0 - 45.0 AS cy
      FROM range({ZONE_COUNT}))
"""

_SPAN_COORDS = r'data-coords="([0-9.\-]+),([0-9.\-]+)"'

#: region_inspect's feature layers (same denominator as tools/run_suite.py)
FEATURE_VIEWS = ("geo_points", "geo_lines", "geo_areas", "geo_sites", "geo_zones")


def _cached(path: str, compute) -> dict:
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    out = compute()
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f, sort_keys=True)
    os.replace(tmp, path)
    return out


def _crossing(i: int, j: int) -> str:
    xi, yi = f"(z.cx + {_DX[i]})", f"(z.cy + {_DY[i]})"
    xj, yj = f"(z.cx + {_DX[j]})", f"(z.cy + {_DY[j]})"
    return (
        f"CASE WHEN (({yi} > f.lat) <> ({yj} > f.lat)) AND "
        f"f.lon < ({xj} - {xi}) * (f.lat - {yi}) / ({yj} - {yi}) + {xi} "
        "THEN 1 ELSE 0 END"
    )


def pages_truth_sql(pages_dir: str) -> str:
    crossings = " + ".join(_crossing(i, (i + 1) % 3) for i in range(3))
    return f"""
WITH html AS (
  SELECT decode(html) AS s FROM read_parquet('{pages_dir}/*.parquet')
),
spans AS (
  SELECT unnest(regexp_extract_all(s, '{_SPAN_COORDS}', 1)) AS lon_s,
         unnest(regexp_extract_all(s, '{_SPAN_COORDS}', 2)) AS lat_s
  FROM html
),
f AS (SELECT CAST(lon_s AS DOUBLE) AS lon, CAST(lat_s AS DOUBLE) AS lat FROM spans),
z AS (
  SELECT CAST((i * 2641) % 6400 AS DOUBLE) / 20.0 - 160.0 AS cx,
         CAST((i * 1871) % 1800 AS DOUBLE) / 20.0 - 45.0 AS cy
  FROM range({ZONE_COUNT}) t(i)
)
SELECT (SELECT COUNT(*) FROM f) AS features,
       (SELECT COUNT(*) FROM f CROSS JOIN z WHERE ({crossings}) % 2 = 1) AS matches
"""


def pages_truth(seed: int, pages_dir: str) -> dict:
    """{"features": spans in the html, "matches": feature-in-zone pairs}."""

    def compute() -> dict:
        con = duckdb.connect()
        try:
            features, matches = con.execute(pages_truth_sql(pages_dir)).fetchone()
        finally:
            con.close()
        return {"features": int(features), "matches": int(matches)}

    name = f"truth_{os.path.basename(pages_dir)}.json"
    return _cached(os.path.join(gen.seed_dir(seed), name), compute)


def _tables_con(tables_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in gen.SF001_ROWS:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')"
        )
    return con


def region_truth(seed: int, tables_dir: str, families) -> dict:
    """{"counts": {ERRTYPE: oracle rows}, "features": geo feature rows}."""
    import __spark_entry__ as entrymod

    from geospatial_analysis_integrity_tool_spark.sources.synthetic import GEO_VIEWS

    def compute() -> dict:
        oracles = entrymod.oracle_sql()
        con = _tables_con(tables_dir)
        try:
            counts = {
                fam.upper(): con.sql(oracles[fam]).arrow().num_rows
                for fam in families
            }
            features = sum(
                con.execute(f"SELECT COUNT(*) FROM ({GEO_VIEWS[v]})").fetchone()[0]
                for v in FEATURE_VIEWS
            )
        finally:
            con.close()
        return {"counts": counts, "features": int(features)}

    name = "truth_region_" + "-".join(sorted(families)) + ".json"
    return _cached(os.path.join(gen.seed_dir(seed), name), compute)


def view_counts(tables_dir: str) -> dict[str, int]:
    """Rows of every geometry view of the program over the generated tables."""
    from geospatial_analysis_integrity_tool_spark.sources.synthetic import GEO_VIEWS

    con = _tables_con(tables_dir)
    try:
        return {
            v: con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
            for v, sql in GEO_VIEWS.items()
        }
    finally:
        con.close()
