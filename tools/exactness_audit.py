"""Float-exactness MARGIN audit: how far is each query from the cliff?

The oracle gate compares value hashes after normalizing floats to 15
significant digits — a pass tells you the engines agree to 15 digits,
not by HOW MUCH they agree. Round 7 shipped a query that sat exactly
on the cliff (a raw-double money sum one cent off across a rounding
boundary); this tool measures the cliff distance for every query so
the next near-miss is visible before it fails a gate.

For every catalog query with an oracle it pairs Spark and DuckDB
result rows (sorted by their non-float cells plus coarsely-rounded
float cells) and reports the MAXIMUM RELATIVE DIVERGENCE across all
float cells, classified:

  bit-exact   max_rel == 0        engines produce identical doubles
  ulp         max_rel <= 1e-13    last-ulp decimal->double cast skew
                                  (Java correctly-rounded vs DuckDB
                                  int128/10^scale division) — benign,
                                  order-independent
  margin      max_rel <= 1e-12    small but >1 ulp; watch
  NEAR-GATE   above               within 100x of the 15-digit gate;
                                  needs the DECIMAL/fixed-point
                                  treatment before it flakes

Usage:  python tools/exactness_audit.py [sf_dir] [query ...]
Writes EXACTNESS.md at the repo root when run over the full catalog.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_oracle import TABLES, _norm_cell  # noqa: E402


def _pair_key(cells: tuple) -> str:
    """Sort key that pairs the 'same' row across engines: floats at 6
    significant digits (coarse enough that sub-gate divergence cannot
    split a pair), everything else via the gate normalizer."""
    out = []
    for v in cells:
        if isinstance(v, float) and not math.isnan(v):
            out.append(f"{v:.6g}")
        else:
            out.append(_norm_cell(v))
    return "\x1f".join(out)


def _float_rel_diffs(a, b):
    """Yield relative diffs for every float position shared by two
    cells (scalars or aligned lists)."""
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return
        denom = max(abs(a), abs(b), 1e-300)
        yield abs(a - b) / denom
    elif isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)) and len(a) == len(b):
        for x, y in zip(a, b):
            yield from _float_rel_diffs(x, y)


def classify(max_rel: float | None) -> str:
    if max_rel is None:
        return "no-floats"
    if max_rel == 0.0:
        return "bit-exact"
    if max_rel <= 1e-13:
        return "ulp"
    if max_rel <= 1e-12:
        return "margin"
    return "NEAR-GATE"


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv and os.path.isdir(argv[0]) else "/root/testdata/sf0.01"
    only = set(argv[1:] if argv and os.path.isdir(argv[0]) else argv)

    import __spark_entry__ as e
    from mock_map_reduce_spark import get_spark

    spark = get_spark("exactness-audit")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    results: list[tuple[str, str, float | None, str]] = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:  # noqa: BLE001
            results.append((name, "ERROR", None, str(ex)[:80]))
            print(f"{name}: ERROR {ex}")
            continue
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
        srows = sorted(
            (tuple(r[i] for i in order) for r in rows), key=_pair_key
        )
        drows = sorted(
            (tuple(r[i] for i in oorder) for r in orows), key=_pair_key
        )
        if len(srows) != len(drows):
            results.append((name, "UNPAIRED", None, "rowcount differs"))
            continue
        max_rel: float | None = None
        unpaired = 0
        for sr, dr in zip(srows, drows):
            if _pair_key(sr) != _pair_key(dr):
                unpaired += 1
                continue
            for rel in (
                r for a, b in zip(sr, dr) for r in _float_rel_diffs(a, b)
            ):
                max_rel = rel if max_rel is None else max(max_rel, rel)
        note = f"{unpaired} unpaired" if unpaired else ""
        cls = classify(max_rel) if not unpaired else "UNPAIRED"
        results.append((name, cls, max_rel, note))
        mr = "-" if max_rel is None else f"{max_rel:.1e}"
        print(f"{name}: {cls} max_rel={mr} [{time.time()-t0:.1f}s]")

    by_cls: dict[str, int] = {}
    for _, cls, _, _ in results:
        by_cls[cls] = by_cls.get(cls, 0) + 1
    print("\nsummary:", dict(sorted(by_cls.items())))

    if not only and results:
        lines = [
            "# EXACTNESS — float-divergence margin audit "
            "(generated by tools/exactness_audit.py)",
            "",
            f"Per-query MAX relative divergence between Spark and DuckDB "
            f"float cells at `{sf_dir}` — the distance from the 15-digit "
            "oracle-gate cliff (see tool docstring for the class bounds). "
            "`bit-exact` means the engines produced identical doubles in "
            "every float cell; `ulp` is the benign decimal→double cast "
            "skew; anything `NEAR-GATE` needs the DECIMAL/fixed-point "
            "treatment BEFORE it flakes.",
            "",
            "Summary: "
            + ", ".join(f"{k}: {v}" for k, v in sorted(by_cls.items())),
            "",
            "Queries with any float divergence (everything else is "
            "bit-exact or float-free):",
            "",
            "| query | class | max relative divergence |",
            "|---|---|---|",
        ]
        for name, cls, max_rel, note in sorted(
            results, key=lambda r: -(r[2] or 0.0)
        ):
            if cls in ("bit-exact", "no-floats"):
                continue
            mr = "-" if max_rel is None else f"{max_rel:.2e}"
            lines.append(f"| {name} | {cls} {note} | {mr} |")
        out = os.path.join(REPO, "EXACTNESS.md")
        with open(out, "w") as f:
            f.write("\n".join(lines) + "\n")
        print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
