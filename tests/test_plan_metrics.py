"""Measured-shuffle-volume gate over the committed PLAN_METRICS.json.

tools/plan_audit.py --metrics EXECUTES every catalog query and records
the actual exchange bytes (stage metrics read from Spark's status
store, UI off) to PLAN_METRICS.json; this test re-validates that record against the dedup-family ceilings —
so a quadratic plan regression (corpus x corpus pairing, a lost
materialize pin) fails CI even when nobody re-ran the metrics tool,
and a re-run that ships a blown-up record can't land quietly.
"""

from __future__ import annotations

import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
METRICS_PATH = os.path.join(REPO, "PLAN_METRICS.json")


@pytest.fixture(scope="module")
def metrics() -> dict:
    if not os.path.exists(METRICS_PATH):
        pytest.skip("PLAN_METRICS.json not generated (run tools/plan_audit.py --metrics)")
    with open(METRICS_PATH) as f:
        return json.load(f)


def test_measure_reads_stage_metrics_with_the_ui_off(spark, sf_dir):
    """The tools' one stage-metric reader works on a get_spark session,
    which has no web UI: one execution of dedup_exact is charged its
    Spark jobs and the bytes its exchange wrote."""
    from mock_map_reduce_spark import registry
    from perfbench.sparkstats import StatusReader
    from tools.plan_audit import measure

    registry.load_all()
    assert spark.sparkContext.uiWebUrl is None
    _, m = measure(spark, StatusReader(spark), registry.QUERIES["dedup_exact"], sf_dir)
    assert m["jobs"] >= 1
    assert m["shuffle_write"] > 0


def test_metrics_cover_the_catalog(metrics):
    from mock_map_reduce_spark import registry

    registry.load_all()
    measured = set(metrics["queries"])
    missing = set(registry.QUERIES) - measured
    # New queries may land between metrics runs; more than a handful
    # unmeasured means the record is stale, not merely trailing.
    assert len(missing) <= 10, f"stale PLAN_METRICS.json, {len(missing)} unmeasured: {sorted(missing)[:10]}"


def test_dedup_family_shuffle_ceilings(metrics):
    from tools.plan_audit import DEDUP_SHUFFLE_CEILINGS

    q = metrics["queries"]
    breaches = []
    for name, ceiling in DEDUP_SHUFFLE_CEILINGS.items():
        rec = q.get(name)
        if rec is None or "error" in rec:
            breaches.append(f"{name}: unmeasured")
            continue
        got = rec["shuffle_write"]
        if got > ceiling:
            breaches.append(f"{name}: shuffle_write {got} > ceiling {ceiling}")
    assert not breaches, breaches


def test_no_metric_errors(metrics):
    errs = {k: v["error"] for k, v in metrics["queries"].items() if "error" in v}
    assert not errs, errs


def test_scaling_exponents_not_superlinear():
    """SCALING.json (tools/scaling_audit.py): no catalog query's
    shuffle-write volume may grow super-linearly with the data unless
    it is on the reviewed data-shape allowlist."""
    import json

    from tools.scaling_audit import ALPHA_GATE, SUPERLINEAR_ALLOW

    path = os.path.join(REPO, "SCALING.json")
    if not os.path.exists(path):
        pytest.skip("SCALING.json not generated (run tools/scaling_audit.py)")
    with open(path) as f:
        rows = json.load(f)["rows"]
    breaches = [
        f"{r['query']}: alpha {r['alpha']}"
        for r in rows
        if r.get("alpha") is not None
        and r["alpha"] > ALPHA_GATE
        and r["query"] not in SUPERLINEAR_ALLOW
    ]
    assert not breaches, breaches
