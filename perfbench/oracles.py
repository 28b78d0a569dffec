"""DuckDB oracle results for the query workloads.

Each query's oracle twin (its registered SQL) runs in DuckDB over the same
parquet files the program reads, and is reduced to row count, column names
and ``tools/oracle_check.value_hash``. The results are cached in
``oracle_hashes.json`` next to this file, keyed by a digest of the fixture
files; when the digest or a query is missing, ``load`` computes the missing
results from DuckDB on the spot.

Recompute the cache from DuckDB (generates the fixture first if needed):

    python3 perfbench/oracles.py
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, "oracle_hashes.json")
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def fixture_digest(sf_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as fh:
            h.update(t.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def load_value_hash():
    """``value_hash`` of ``tools/oracle_check.py``, imported from the file."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tools", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


def compute(sf_dir: str, names: list[str]) -> dict:
    import duckdb

    sys.path.insert(0, ROOT)
    from binwatch_spark.plans import all_oracles

    sql = all_oracles()
    value_hash = load_value_hash()
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for name in names:
        cur = con.execute(sql[name])
        cols = [d[0] for d in cur.description]
        rows = [tuple(r) for r in cur.fetchall()]
        out[name] = {"rows": len(rows), "cols": sorted(cols), "hash": value_hash(rows, cols)}
    con.close()
    return out


def load(sf_dir: str, names: list[str]) -> dict:
    digest = fixture_digest(sf_dir)
    cached = {}
    if os.path.exists(CACHE):
        with open(CACHE) as fh:
            entry = json.load(fh).get(os.path.basename(sf_dir), {})
        if entry.get("fixture_digest") == digest:
            cached = entry["queries"]
    missing = [n for n in names if n not in cached]
    if missing:
        cached = {**cached, **compute(sf_dir, missing)}
    return {n: cached[n] for n in names}


def main() -> int:
    sys.path.insert(0, HERE)
    import run

    doc = {}
    for sf, names, *_ in run.QUERY_WORKLOADS.values():
        sf_dir = run.ensure_fixture(sf)
        entry = doc.setdefault(os.path.basename(sf_dir), {
            "fixture": f"tools/gen_scale_fixture.py --sf {sf} (seed 42)",
            "fixture_digest": fixture_digest(sf_dir),
            "queries": {},
        })
        entry["queries"].update(compute(sf_dir, names))
    with open(CACHE, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote oracle results for {sorted(doc)} to {os.path.relpath(CACHE, ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
