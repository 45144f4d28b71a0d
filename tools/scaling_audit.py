"""SCALING.md — measured shuffle-volume growth per catalog query.

Plan shape says a query SHOULD scale; this measures that it DOES: every
catalog query executes at two scale factors (default sf0.001 → sf0.01,
a 10x data step) and the growth exponent of its shuffle-write volume

    alpha = log(bytes_big / bytes_small) / log(10)

is reported. alpha ≈ 1 means exchange volume tracks the data (the
plan's reduction work is linear); alpha < 1 means the exchanges are
sub-linear (fixed-cardinality aggregates, bounded candidate sets —
the best case at 100 TB); alpha meaningfully > 1 means the exchange
grows FASTER than the data — the signature of a pair blow-up — and
fails the tool unless the query is on the reviewed allowlist with a
data-shape explanation.

Byte counts, not wall time: stage metrics are deterministic up to
partitioning/compression, so the exponent is reproducible where
timings are host-noise.

Usage:  python tools/scaling_audit.py [sf_small] [sf_big] [query ...]
        (with explicit queries, results append to SCALING.md's
        focused-run section instead of rewriting the full table)
"""

from __future__ import annotations

import json
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Queries allowed to exceed the super-linear gate, each with the
# data-shape reason (reviewed round 9):
SUPERLINEAR_ALLOW = {
    # Pair-emitting dedup queries: candidate-pair count tracks how many
    # near-duplicate documents the GENERATOR planted, which grows
    # faster than doc count between these two tiny sfs (50 -> 500 docs
    # over a fixed 50-word vocabulary saturates shingle collisions).
    # The in-plan caps (max_bucket_size, max_doc_freq, prefix pruning)
    # bound the fan-out per bucket/gram — PLAN_AUDIT's absolute
    # ceilings gate those — but pair volume itself is a property of
    # the corpus's duplicate rate, not of the plan.
    "dedup_ngram_jaccard",
    "dedup_ngram_containment",
    "dedup_prefix_filter_jaccard",
    "dedup_prefix_filter_jaccard_strict",
    "dedup_lsh_candidates",
    "dedup_lsh_recall_by_jaccard",
    "dedup_fuzzy_survivors",
    "dedup_clusters",
    "dedup_incremental_candidates",
    "dedup_simhash_candidates",
    "dedup_embedding_lsh",
    "dedup_substring_spans",  # fully-replicated spans: diagnosed data-shape in SF1_PROOF
    "dedup_minhash_jaccard_estimate",
    "text_inverted_index",  # posting lists lengthen with corpus on the fixed vocabulary
    "fuzzy_word_variants",  # same fixed-vocabulary collision growth
}

ALPHA_GATE = 1.3
MIN_BYTES = 64 * 1024  # below this, exponents are partition-overhead noise


def main() -> int:
    sf_small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    sf_big = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    only = sys.argv[3:]
    step = 10.0  # data ratio between the two dirs

    from mock_map_reduce_spark import get_spark, registry
    from perfbench.sparkstats import StatusReader
    from tools.plan_audit import measure

    registry.load_all()
    spark = get_spark("scaling-audit", shuffle_partitions=8)
    reader = StatusReader(spark)

    rows = []
    breaches = []
    items = sorted(registry.QUERIES.items())
    if only:
        items = [(n, f) for n, f in items if n in only]
    for name, fn in items:
        rec = {"query": name}
        try:
            _, m_small = measure(spark, reader, fn, sf_small)
            _, m_big = measure(spark, reader, fn, sf_big)
        except Exception as ex:  # noqa: BLE001
            rec["error"] = str(ex)[:160]
            rows.append(rec)
            continue
        a, b = m_small["shuffle_write"], m_big["shuffle_write"]
        rec["bytes_small"], rec["bytes_big"] = a, b
        if b < MIN_BYTES:
            rec["class"] = "const"  # exchange volume is noise-scale at both sfs
            rec["alpha"] = None
        elif a == 0:
            rec["class"] = "emergent"  # zero -> nonzero: no exponent defined
            rec["alpha"] = None
        else:
            alpha = math.log(b / a) / math.log(step)
            rec["alpha"] = round(alpha, 2)
            rec["class"] = (
                "superlinear"
                if alpha > ALPHA_GATE
                else ("linear" if alpha > 0.7 else "sublinear")
            )
            if alpha > ALPHA_GATE and name not in SUPERLINEAR_ALLOW:
                breaches.append(f"{name}: alpha {alpha:.2f} ({a} -> {b} bytes)")
        rows.append(rec)

    out = os.path.join(REPO, "SCALING.md")
    if only:
        with open(out, "a") as f:
            f.write(
                f"\n## Focused run: {sf_small} -> {sf_big}\n\n"
                "| query | shufW small | shufW big | alpha | class |\n"
                "|---|---|---|---|---|\n"
            )
            for r in rows:
                if "error" in r:
                    f.write(f"| {r['query']} | - | - | - | ERROR: {r['error']} |\n")
                else:
                    f.write(
                        f"| {r['query']} | {r['bytes_small']} | {r['bytes_big']} "
                        f"| {r['alpha'] if r['alpha'] is not None else '-'} "
                        f"| {r['class']} |\n"
                    )
        for b in breaches:
            print("SCALING BREACH:", b)
        print(f"appended focused run to {out}: {len(rows)} queries")
        return 1 if breaches else 0
    with open(out, "w") as f:
        f.write(
            "# SCALING — measured shuffle-write growth exponents "
            "(generated by tools/scaling_audit.py)\n\n"
            f"Data step: {sf_small} → {sf_big} (10x). alpha = "
            "log10(bytes_big/bytes_small); const = under "
            f"{MIN_BYTES // 1024} KB at the larger sf (partition-"
            "overhead noise floor). Gate: alpha > "
            f"{ALPHA_GATE} fails unless on the reviewed "
            "SUPERLINEAR_ALLOW list (pair-emitting dedup queries whose "
            "candidate volume tracks the corpus's planted duplicate "
            "rate, not the plan).\n\n"
            "| query | shufW small | shufW big | alpha | class |\n"
            "|---|---|---|---|---|\n"
        )
        for r in sorted(
            rows,
            key=lambda r: -r["alpha"] if r.get("alpha") is not None else 2.0,
        ):
            if "error" in r:
                f.write(f"| {r['query']} | - | - | - | ERROR: {r['error']} |\n")
            else:
                f.write(
                    f"| {r['query']} | {r['bytes_small']} | {r['bytes_big']} "
                    f"| {r['alpha'] if r['alpha'] is not None else '-'} "
                    f"| {r['class']} |\n"
                )
    with open(os.path.join(REPO, "SCALING.json"), "w") as f:
        json.dump({"sf_small": sf_small, "sf_big": sf_big, "rows": rows}, f, indent=1)

    n_err = sum(1 for r in rows if "error" in r)
    for b in breaches:
        print("SCALING BREACH:", b)
    counts = {}
    for r in rows:
        counts[r.get("class", "error")] = counts.get(r.get("class", "error"), 0) + 1
    print(f"wrote {out}: {len(rows)} queries, classes {counts}, {n_err} errors")
    return 1 if (breaches or n_err) else 0


if __name__ == "__main__":
    raise SystemExit(main())
