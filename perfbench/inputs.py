"""Seeded input generation for the benchmark workloads.

Runs in its own process (``python3 perfbench/inputs.py <workload> <seed>
<size> <out_dir>``) so that the numpy/DuckDB memory it needs never counts
toward the measured process tree. It writes the workload's parquet
inputs into ``out_dir`` and a ``manifest.json`` describing them and what
the output checks need:

* ``vi_replay``: an (x, y) frame drawn from ``z ~ N(0, 1)``,
  ``x = z + e``, ``y = w z + b + e``; the manifest holds the true
  ``(w, b)``.
* ``query_mix``: the ``customer``/``orders``/``lineitem``/``documents``
  tables at sf0.1 from ``tools/gen_sf.py``, and each query's expected
  result from its ``oracle_sql()`` run by DuckDB (kept in
  ``.perfbench_cache/``). These tables are the same for every seed; the
  seed draws the query order.

The same (workload, seed, size) always gives the same files.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: observation noise of the VI generative model (the model uses the same)
VI_NOISE = 0.1

#: vi_replay frame rows per workload size, under the library's
#: driver-local replay cap (131072 rows). query_mix reads sf0.1 at every
#: size.
VI_ROWS = {"full": 20_000, "tiny": 4_000}

#: registry queries of the query_mix workload and the tables each reads:
#: Catalyst-only plans (q1, q3), a text pass over the documents (tfidf)
#: and a driver-eager build, Lloyd's k-means with mapInPandas scans and
#: its driver-side replay copy (kmeans_embeddings, which synthesizes its
#: points). The registry's other queries are left out to keep a run near
#: 70 s on 4 cores: minhash_recall_docs alone builds for 11-15 s.
QUERIES = {
    "q1_pricing_summary": ["lineitem"],
    "q3_top_orders": ["customer", "orders", "lineitem"],
    "text_tfidf": ["documents"],
    "kmeans_embeddings": [],
}


def tool(name: str):
    """The checkout's ``tools/<name>.py`` as a module (tools/ is not a
    package)."""
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write(out_dir, name, frame: pd.DataFrame) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), path)
    return path


# -- VI ----------------------------------------------------------------------
def vi_frame(rng, rows: int, out_dir: str, files: int = 4) -> dict:
    # both globals lie 0.8 to 1.2 from zero, where the decoder starts, so
    # a decoder that training did not move fails either check
    w, b = rng.uniform(0.8, 1.2, 2) * rng.choice([-1.0, 1.0], 2)
    w, b = float(w), float(b)
    z = rng.standard_normal(rows)
    x = z + VI_NOISE * rng.standard_normal(rows)
    y = w * z + b + VI_NOISE * rng.standard_normal(rows)
    data = os.path.join(out_dir, "vi")
    os.makedirs(data)
    per = -(-rows // files)
    for i in range(files):
        sl = slice(i * per, (i + 1) * per)
        _write(data, f"part-{i:02d}", pd.DataFrame({"x": x[sl], "y": y[sl]}))
    return {"data": data, "rows": rows, "w": w, "b": b}


# -- query_mix -----------------------------------------------------------------
def query_tables(out_dir: str) -> dict:
    """customer, orders, lineitem and documents at sf0.1, made by the
    repository's generator of the testdata distributions (``gen_sf`` at
    factor 1: ~600k lineitem rows, 5000 documents) from its fixed
    per-table seeds."""
    gen_sf = tool("gen_sf")
    data = os.path.join(out_dir, "tables")
    os.makedirs(data)
    gen_sf.gen_customer(data, 1)
    gen_sf.gen_orders_lineitem(data, 1)
    gen_sf.gen_documents(data, 1)
    rows = {
        f[: -len(".parquet")]: pq.read_metadata(os.path.join(data, f)).num_rows
        for f in sorted(os.listdir(data))
    }
    return {"data": data, "table_rows": rows}


def query_oracles(data: str) -> dict:
    """Each query's expected result: its registry ``oracle_sql()`` run
    by DuckDB over the generated tables, pickled (exact dtypes).

    The tables are the same for every seed, so the results are kept in
    ``.perfbench_cache/`` under a hash of the generator's source, the
    queries' SQL and the DuckDB version, and computed again only when one
    of those changes."""
    import duckdb

    import __spark_entry__ as entry

    oracles = {q: entry.oracle_sql()[q] for q in QUERIES}
    with open(os.path.join(ROOT, "tools", "gen_sf.py"), "rb") as f:
        key = hashlib.sha256(f.read())
    key.update(json.dumps([oracles, duckdb.__version__], sort_keys=True).encode())
    cache = os.path.join(ROOT, ".perfbench_cache", f"oracles-{key.hexdigest()[:16]}")
    expected = {q: os.path.join(cache, f"expected_{q}.pkl") for q in QUERIES}
    if all(os.path.isfile(p) for p in expected.values()):
        return expected
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        con.sql(f"CREATE VIEW {f[: -len('.parquet')]} AS SELECT * FROM '{data}/{f}'")
    os.makedirs(cache, exist_ok=True)
    for q, path in expected.items():
        con.sql(oracles[q]).df().to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
    return expected


def generate(workload: str, seed: int, size: str, out_dir: str) -> dict:
    if workload == "vi_replay":
        manifest = vi_frame(np.random.default_rng(seed), VI_ROWS[size], out_dir)
    elif workload == "query_mix":
        manifest = query_tables(out_dir)
        manifest["expected"] = query_oracles(manifest["data"])
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4])
