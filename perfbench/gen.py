"""Seeded input generators, cached per seed under ``perfbench/.data/<seed>``.

* ``pages``: Common-Crawl-style pages from the program's index-pure page
  synthesis (``sources.pages._page_batch``), with a hash of the seed choosing
  the offset of the index range.  Written once as a parquet directory of
  ``PAGES_FILES`` files, so Spark scans it with that many input splits.
* ``tables``: sf0.01-shaped TPC-H-ish tables (the ten tables the program's
  ``register_testdata_views`` reads) drawn from ``numpy.random`` with the
  seed.  The keys of ``orders``, ``supplier`` and ``part`` and their foreign
  keys are shifted by a seed-derived multiple of the table size, as
  ``tools/make_sf1.py`` shifts its copies; ``customer`` and ``nation`` keep
  their keys because the geometry views use ``c_custkey < 50`` as vertex
  counters.

The same seed always gives byte-identical parquet content.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_ROOT = os.path.join(HERE, ".data")

PAGES_FILES = 8

#: page indexes stay below this: the page synthesis stamps page ``i`` at
#: 2024-01-01 + 137 * i seconds, and pandas timestamps end in April 2262
#: (index ~5.49e7)
PAGE_INDEX_LIMIT = 50_000_000

#: sf0.01 row counts of the program's test tables
SF001_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PADJ = ("blue", "cold", "hot", "new", "old", "red", "small", "green")
_PNOUN = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut")
_PRIOS = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENTS = ("click", "error", "purchase", "signup", "view")
_LANGS = ("de", "en", "es", "fr", "zh")
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "window order data column join small line customer query big stream sort "
    "filter group"
).split()


def seed_dir(seed: int) -> str:
    return os.path.join(DATA_ROOT, str(int(seed)))


def _seed_key(seed: int) -> int:
    """Any integer seed, negative or past 64 bits, as a 64-bit unsigned int."""
    return int(seed) % 2**64


def pages_offset(seed: int, n_pages: int) -> int:
    """First page index for a seed: a hash of the seed into
    ``[0, PAGE_INDEX_LIMIT - n_pages]``, so every seed, however large, gives
    page indexes the synthesis can stamp."""
    digest = hashlib.blake2b(str(int(seed)).encode(), digest_size=8).digest()
    return int.from_bytes(digest, "little") % (PAGE_INDEX_LIMIT - n_pages + 1)


def _write_once(path: str, build) -> str:
    """Build ``path`` (file or directory) unless it exists; atomic rename."""
    if os.path.exists(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.replace(tmp, path)
    return path


def pages(seed: int, n_pages: int) -> str:
    """Path of the seeded pages parquet directory (built on first use)."""
    from geospatial_analysis_integrity_tool_spark.sources.pages import _page_batch

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        idx = np.arange(n_pages, dtype=np.int64) + pages_offset(seed, n_pages)
        for i, chunk in enumerate(np.array_split(idx, PAGES_FILES)):
            pdf = _page_batch(chunk)
            pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
            pq.write_table(
                pa.Table.from_pandas(pdf, preserve_index=False),
                os.path.join(tmp, f"part-{i:03d}.parquet"),
            )

    return _write_once(os.path.join(seed_dir(seed), f"pages_{n_pages}"), build)


def key_shifts(seed: int) -> dict[str, int]:
    """Seed-derived key offsets (multiples of the table size, as make_sf1)."""
    k = 1 + int(seed) % 997
    return {
        "orders": k * SF001_ROWS["orders"],
        "supplier": k * SF001_ROWS["supplier"],
        "part": k * SF001_ROWS["part"],
    }


def _tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([_seed_key(seed), 20240101])
    n = SF001_ROWS
    sh = key_shifts(seed)

    def choice(vals, size):
        return np.asarray(vals, dtype=object)[rng.integers(0, len(vals), size)]

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(start, span, size):
        d = rng.integers(0, span, size).astype("timedelta64[D]")
        return (np.datetime64(start, "us") + d).astype("datetime64[us]")

    i64, i32, f64, s = pa.int64(), pa.int32(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def table(cols: dict, types: dict) -> pa.Table:
        return pa.table({c: pa.array(v, type=types[c]) for c, v in cols.items()})

    out: dict[str, pa.Table] = {}
    out["region"] = table(
        {
            "r_regionkey": np.arange(n["region"]),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        {"r_regionkey": i32, "r_name": s},
    )
    nk = np.arange(n["nation"])
    out["nation"] = table(
        {
            "n_nationkey": nk,
            "n_name": [f"NATION_{k}" for k in nk],
            "n_regionkey": nk % n["region"],
        },
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32},
    )
    ck = np.arange(n["customer"])
    out["customer"] = table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": rng.integers(0, n["nation"], len(ck)),
            "c_acctbal": money(-999.99, 9999.99, len(ck)),
            "c_mktsegment": choice(_SEGMENTS, len(ck)),
        },
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64,
         "c_mktsegment": s},
    )
    sk = np.arange(n["supplier"]) + sh["supplier"]
    out["supplier"] = table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{k:09d}" for k in sk],
            "s_nationkey": rng.integers(0, n["nation"], len(sk)),
            "s_acctbal": money(-999.99, 9999.99, len(sk)),
        },
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64},
    )
    pk = np.arange(n["part"]) + sh["part"]
    out["part"] = table(
        {
            "p_partkey": pk,
            "p_name": choice(_PADJ, len(pk)) + " " + choice(_PNOUN, len(pk)),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(pk))],
            "p_type": choice(_PTYPES, len(pk)),
            "p_size": rng.integers(1, 51, len(pk)),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        },
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32,
         "p_retailprice": f64},
    )
    ok = np.arange(n["orders"]) + sh["orders"]
    out["orders"] = table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n["customer"], len(ok)),
            "o_orderstatus": choice(("F", "O", "P"), len(ok)),
            "o_totalprice": money(1000.0, 500000.0, len(ok)),
            "o_orderdate": days("1995-01-01", 2404, len(ok)),
            "o_orderpriority": choice(_PRIOS, len(ok)),
        },
        {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s,
         "o_totalprice": f64, "o_orderdate": ts, "o_orderpriority": s},
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    out["lineitem"] = table(
        {
            "l_orderkey": rng.integers(0, n["orders"], nl) + sh["orders"],
            "l_partkey": rng.integers(0, n["part"], nl) + sh["part"],
            "l_suppkey": rng.integers(0, n["supplier"], nl) + sh["supplier"],
            "l_linenumber": rng.integers(1, 8, nl),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": choice(("A", "N", "R"), nl),
            "l_linestatus": choice(("F", "O"), nl),
            "l_shipdate": days("1995-01-02", 2498, nl),
        },
        {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32,
         "l_quantity": f64, "l_extendedprice": f64, "l_discount": f64, "l_tax": f64,
         "l_returnflag": s, "l_linestatus": s, "l_shipdate": ts},
    )
    ne = n["events"]
    t_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    out["events"] = table(
        {
            "event_id": np.arange(ne),
            "ts": np.datetime64("2024-01-01", "us") + t_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, ne),
            "event_type": choice(_EVENTS, ne),
            "value": money(0.01, 500.0, ne),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        },
        {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s, "value": f64,
         "props": s},
    )
    nd = n["documents"]
    words = np.asarray(_WORDS, dtype=object)
    text = [" ".join(words[rng.integers(0, len(words), k)])
            for k in rng.integers(4, 90, nd)]
    out["documents"] = table(
        {
            "doc_id": np.arange(nd),
            "text": text,
            "lang": choice(_LANGS, nd),
            "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
            "n_chars": [len(t) for t in text],
        },
        {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64},
    )
    nv = n["embeddings"]
    vecs = rng.normal(0.0, 0.12, (nv, 64)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), type=i64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), type=i32),
        }
    )
    return out


def tables(seed: int) -> str:
    """Path of the seeded sf0.01-shaped table directory (built on first use)."""

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        for name, t in _tables(seed).items():
            pq.write_table(t, os.path.join(tmp, f"{name}.parquet"))

    return _write_once(os.path.join(seed_dir(seed), "sf0.01"), build)
