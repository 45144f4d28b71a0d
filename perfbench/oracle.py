"""Expected results, computed once per seed with DuckDB.

Each benchmarked query's oracle is its ``registry.ORACLES`` SQL, run
over the seed's generated tables, and summarized the way
``tools/check_oracle.py`` compares results: row count, column names and
the order-insensitive ``value_hash``. The word-count workload expects
the ``word_count`` oracle for the full counts and the ``top_words``
oracle (top 50, count descending then word) for the console result.
"""

from __future__ import annotations

import json
import os
import time

import duckdb

from tools.check_oracle import value_hash

TOP_N = 50


def summarize(cols: list[str], rows: list[tuple]) -> dict:
    return {"rows": len(rows), "cols": sorted(cols), "hash": value_hash(list(cols), rows)}


def mismatch(expected: dict, cols: list[str], rows: list[tuple]) -> str | None:
    """Why a full result differs from its oracle summary, or None."""
    got = summarize(cols, rows)
    for key in ("rows", "cols", "hash"):
        if got[key] != expected[key]:
            return f"{key}: got {got[key]!r}, expected {expected[key]!r}"
    return None


def _connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    os.makedirs(tmp_dir, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp_dir}'")
    return con


def expected(inputs: dict, workload: str, queries: list[str], oracles: dict[str, str],
             tmp_dir: str) -> tuple[dict, float]:
    """Oracle summaries for ``queries`` on this seed's inputs, cached next
    to the inputs; returns (summaries, seconds spent computing them)."""
    path = os.path.join(inputs["seed_dir"], f"oracle-{workload}.json")
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
        if all(q in cached for q in queries):
            return cached, 0.0
    t0 = time.perf_counter()
    con = _connect(tmp_dir)
    out: dict = {}
    if workload == "wordcount":
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{inputs['corpus_dir']}/documents.parquet/*.parquet'"
        )
        full = con.execute(oracles["word_count"])
        out["wordcount"] = summarize([d[0] for d in full.description], full.fetchall())
        out["wordcount"]["top"] = [list(r) for r in con.execute(oracles["top_words"]).fetchall()]
        if len(out["wordcount"]["top"]) != TOP_N:
            raise ValueError(f"top_words oracle returned {len(out['wordcount']['top'])} rows, not {TOP_N}")
    else:
        for name in os.listdir(inputs["tables_dir"]):
            table = name.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{inputs['tables_dir']}/{name}'")
        for q in queries:
            res = con.execute(oracles[q])
            out[q] = summarize([d[0] for d in res.description], res.fetchall())
    con.close()
    with open(path + ".tmp", "w") as fh:
        json.dump(out, fh)
    os.replace(path + ".tmp", path)
    return out, time.perf_counter() - t0
