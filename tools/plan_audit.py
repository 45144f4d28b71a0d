"""Generate PLAN_AUDIT.md: a machine-derived physical-plan summary for
every catalog query.

PLANS.md narrates the plans we DESIGNED; this table is what Spark
actually planned, regenerated on demand so drift between narrative and
reality is visible. Per query: shuffle-exchange count (broadcast and
reused exchanges excluded), broadcast joins, nested-loop presence,
whole-stage-codegen presence, Python-eval presence (the slow lane),
and TakeOrdered usage.

With ``--metrics`` the audit also EXECUTES every query and records the
measured exchange volume (shuffle bytes written/read, input bytes) per
query from Spark's status store (``measure``; the UI stays off) — so
the 100 TB scale claims ride measured bytes, not plan shape alone.
Metrics runs default to sf0.01 (real data volume matters), write
machine-readable PLAN_METRICS.json, and enforce the
DEDUP_SHUFFLE_CEILINGS regression gate: a dedup-family query whose
shuffle-write volume blows past its pinned ceiling (a quadratic
blow-up, a lost materialize pin) fails the tool.

Usage:  python tools/plan_audit.py [--metrics] [sf_dir]
        (default sf0.001 plan-shape-only; sf0.01 with --metrics)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Measured-shuffle-write ceilings (BYTES, at sf0.01) for the family
# where a plan regression is quadratic, not just slow. Pinned at
# ~10-15x the round-9 measured values (PLAN_METRICS.json: 0.03-1.6 MB
# per query) — loose enough for partition-count/AQE/codec drift, tight
# enough that an accidental corpus x corpus pairing (100-1000x more
# bytes) trips immediately. tests/test_plan_metrics.py re-checks the
# committed PLAN_METRICS.json against the same ceilings.
DEDUP_SHUFFLE_CEILINGS: dict[str, int] = {
    "dedup_exact": 1 << 20,
    "dedup_lsh_candidates": 4 << 20,
    "dedup_ngram_jaccard": 12 << 20,
    "dedup_fuzzy_survivors": 6 << 20,
    "dedup_prefix_filter_jaccard": 24 << 20,
    "dedup_prefix_filter_jaccard_strict": 4 << 20,
    "dedup_semantic_semdedup": 16 << 20,
    "dedup_substring_spans": 12 << 20,
    # applyInPandasWithState entries (per-user stateful streams): one
    # keyed exchange of the events table per run (~70-105 KB measured
    # at sf0.01). The regression this guards is a function that
    # re-emits cumulative state snapshots per batch or loses the
    # single-exchange shape — shuffle volume is O(events), so ~15x
    # headroom like the dedup rows.
    "streaming_distinct_types_stateful": 1 << 20,
    "streaming_type_counts_mapstate": 1 << 20,
    "streaming_session_timeout_evictions": 2 << 20,
    # Stream-stream interval join: BOTH sides of the self-join are
    # keyed exchanges of the events table (plus state-store IO that
    # does not count as shuffle), so the expected volume is ~2x the
    # stateful rows above. The regression guarded is a lost equi-key (pure
    # time-range join → per-batch cartesian re-pairing).
    "streaming_interval_join_outer": 4 << 20,
}


def measure(spark, reader, fn, sf_dir: str) -> tuple[str, dict[str, int]]:
    """Execute catalog query ``fn(spark, sf_dir)`` once; return its final
    plan and the stage metrics of every Spark job that execution fired
    (``materialize()`` pin jobs at build time included), read after it
    from Spark's status store by ``reader``, a
    ``perfbench.sparkstats.StatusReader`` on ``spark``."""
    from mock_map_reduce_spark.plans import final_plan

    reader.drain()
    reader.new_jobs()  # charge nothing that ran before this query
    t0 = time.time()
    plan = final_plan(fn(spark, sf_dir))
    wall_ms = int((time.time() - t0) * 1000)
    reader.drain()
    jobs = reader.new_jobs()
    st = reader.stage_totals([sid for j in jobs for sid in j["stages"]])
    return plan, {
        "shuffle_write": int(st["shuffle_write_bytes"]),
        "shuffle_read": int(st["shuffle_read_bytes"]),
        "input_bytes": int(st["input_bytes"]),
        "wall_ms": wall_ms,
        "jobs": len(jobs),
        "stages": int(st["stages"]),
    }


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--metrics"]
    with_metrics = "--metrics" in sys.argv[1:]
    sf_dir = args[0] if args else (
        "/root/testdata/sf0.01" if with_metrics else "/root/testdata/sf0.001"
    )

    from mock_map_reduce_spark import get_spark, registry
    from mock_map_reduce_spark.plans import final_plan
    from perfbench.sparkstats import StatusReader

    registry.load_all()
    spark = get_spark("plan-audit", shuffle_partitions=8)
    reader = StatusReader(spark)

    rows = []
    metrics: dict[str, dict[str, int]] = {}
    for name, fn in sorted(registry.QUERIES.items()):
        try:
            # final (post-execution) plan: under AQE only this shows the
            # exchanges that actually ran and the codegen stages. The
            # AdaptiveSparkPlan string appends "== Initial Plan ==" after
            # the final plan — drop it or every exchange counts twice.
            # In --metrics mode the SAME single execution provides both
            # the stage metrics and the final plan.
            if with_metrics:
                plan, metrics[name] = measure(spark, reader, fn, sf_dir)
            else:
                plan = final_plan(fn(spark, sf_dir))
            plan = plan.split("== Initial Plan ==")[0]
        except Exception as ex:  # noqa: BLE001
            if with_metrics:
                metrics[name] = {"error": str(ex)[:200]}
            rows.append((name, "-", "-", "-", "-", "-", "-", f"PLAN ERROR: {ex}"))
            continue
        lines = plan.splitlines()
        n_shuffle = sum(
            1
            for ln in lines
            if "Exchange" in ln
            and "BroadcastExchange" not in ln
            and "ReusedExchange" not in ln
        )
        n_bcast = sum(1 for ln in lines if "BroadcastExchange" in ln)
        nested = "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
        codegen = "WholeStageCodegen" in plan or "*(" in plan
        python_eval = any(
            k in plan
            for k in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
                      "MapInPandas", "FlatMapGroupsInArrow", "PythonUDTF",
                      "FlatMapGroupsWithStateInPandas", "MapInArrow")
        )
        bounded_topk = "TakeOrderedAndProject" in plan
        rows.append(
            (
                name,
                str(n_shuffle),
                str(n_bcast),
                "y" if nested else "",
                "y" if codegen else "",
                "y" if python_eval else "",
                "y" if bounded_topk else "",
                "",
            )
        )

    def _mb(b: int) -> str:
        return f"{b / (1 << 20):.2f}"

    out = os.path.join(REPO, "PLAN_AUDIT.md")
    with open(out, "w") as f:
        f.write(
            "# PLAN_AUDIT — generated by tools/plan_audit.py\n\n"
            "Machine-derived physical-plan summary per catalog query "
            f"(sf_dir={sf_dir}).\nShuffle = non-broadcast, non-reused "
            "exchanges. NL = nested-loop/cartesian present (every entry "
            "is a bounded broadcast side — see tests/test_plans.py "
            "_BOUNDED_BNLJ). Py = Python/Arrow eval in the plan (the "
            "deliberate UDF-surface queries). TopK = bounded-heap "
            "TakeOrderedAndProject.\n"
        )
        if with_metrics:
            f.write(
                "shufW/shufR/inMB = MEASURED shuffle bytes written/read "
                "and input bytes (MB) for one full run of the query at "
                "this sf (status-store stage metrics; includes "
                "materialize-pin jobs). Ceilings for the dedup family "
                "enforced — see DEDUP_SHUFFLE_CEILINGS.\n\n"
                "| query | shuffles | bcasts | NL | codegen | Py | TopK "
                "| shufW MB | shufR MB | in MB | note |\n"
                "|---|---|---|---|---|---|---|---|---|---|---|\n"
            )
        else:
            f.write(
                "\n| query | shuffles | bcasts | NL | codegen | Py | TopK | note |\n"
                "|---|---|---|---|---|---|---|---|\n"
            )
        for r in rows:
            if with_metrics:
                m = metrics.get(r[0], {})
                if "error" in m:
                    mcols = ("-", "-", "-")
                    r = r[:7] + (f"METRICS ERROR: {m['error']}" if not r[7] else r[7],)
                else:
                    mcols = (
                        _mb(m.get("shuffle_write", 0)),
                        _mb(m.get("shuffle_read", 0)),
                        _mb(m.get("input_bytes", 0)),
                    )
                f.write("| " + " | ".join(r[:7] + mcols + (r[7],)) + " |\n")
            else:
                f.write("| " + " | ".join(r) + " |\n")

    n_err = sum(1 for r in rows if r[7])
    breaches = []
    if with_metrics:
        mpath = os.path.join(REPO, "PLAN_METRICS.json")
        with open(mpath, "w") as f:
            json.dump({"sf_dir": sf_dir, "queries": metrics}, f, indent=1, sort_keys=True)
        n_merr = sum(1 for m in metrics.values() if "error" in m)
        for name, ceiling in DEDUP_SHUFFLE_CEILINGS.items():
            got = metrics.get(name, {}).get("shuffle_write")
            if got is not None and got > ceiling:
                breaches.append(f"{name}: shuffle_write {got} > ceiling {ceiling}")
        for b in breaches:
            print("CEILING BREACH:", b)
        print(f"wrote {mpath}: {len(metrics)} measured, {n_merr} metric errors")
        n_err += n_merr
    print(f"wrote {out}: {len(rows)} queries, {n_err} errors")
    return 1 if (n_err or breaches) else 0


if __name__ == "__main__":
    raise SystemExit(main())
