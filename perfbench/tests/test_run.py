import json
import os
import re

import pytest

import run
from sparkstats import parse_metric, streaming_totals
from spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class _Rows:
    """Stands in for a DataFrame whose result has ``n`` rows."""

    def __init__(self, n):
        self.n = n

    def collect(self):
        return [()] * self.n


class _Spark:
    """Stands in for the session: two pins open after each pass until
    ``clearCache()``."""

    def __init__(self):
        self.pins = 0
        self.catalog = self
        self._jsc = self

    def getPersistentRDDs(self):
        self.pins += 2
        return self

    def size(self):
        return self.pins

    def clearCache(self):
        self.pins = 0


def _bench(builders):
    queries = run.WORKLOADS["python_udf"]
    bench = run.Bench(_Spark(), "python_udf", {"tables_dir": "unused"},
                      {q: {"rows": 3} for q in queries}, Tracer(enabled=False))
    bench.builders = builders
    bench.limit_plan = dict.fromkeys(queries, True)
    return bench, queries


def test_raising_query_is_counted_and_the_pass_continues(capsys):
    def boom(spark, sf_dir):
        raise RuntimeError("injected failure\nsecond line")

    bench, queries = _bench({})
    bench.builders = {q: (lambda s, d: _Rows(3)) for q in queries}
    bench.builders[queries[0]] = boom
    rec = bench.run_pass()
    assert rec["pins_open"] == 2
    assert bench.attempted == len(queries)
    assert bench.failed == 1
    assert bench.failures == [{"query": queries[0], "pass": 0, "error": "RuntimeError: injected failure"}]
    assert set(rec["queries"]) == set(queries)
    assert "FAILED" in capsys.readouterr().err
    assert bench.run_pass()["pins_open"] == 2  # released after each pass
    assert (bench.attempted, bench.failed) == (2 * len(queries), 2)


def test_wrong_row_count_is_a_failure():
    bench, queries = _bench({})
    bench.builders = {q: (lambda s, d: _Rows(3)) for q in queries}
    bench.builders[queries[-1]] = lambda s, d: _Rows(4)
    bench.run_pass()
    assert bench.failed == 1
    assert bench.failures[0]["error"] == "row count 4, expected 3"


def test_parse_metric_display_strings():
    assert parse_metric("5,000") == 5000
    assert parse_metric("26.3 KiB") == pytest.approx(26.3 * 1024)
    assert parse_metric("total (min, med, max (stageId: taskId))\n4.8 s (1.1 s, 1.2 s, 1.2 s (stage 10.0: task 16))") == pytest.approx(4.8)
    assert parse_metric("total (min, med, max (stageId: taskId))\n49 ms (6 ms, 13 ms, 21 ms (stage 10.0: task 15))") == pytest.approx(0.049)


def test_streaming_totals_sum_phases_and_keep_final_state():
    ev = [
        {"run_id": "a", "duration_ms": {"triggerExecution": 1000, "addBatch": 600}, "state_rows": 5, "state_bytes": 2**20},
        {"run_id": "a", "duration_ms": {"triggerExecution": 500, "walCommit": 100, "commitOffsets": 50}, "state_rows": 7, "state_bytes": 2**21},
        {"run_id": "b", "duration_ms": {"queryPlanning": 200}, "state_rows": 1, "state_bytes": 0},
    ]
    t = streaming_totals(ev)
    assert t["streaming.batches"] == 3
    assert t["streaming.trigger_s"] == pytest.approx(1.5)
    assert t["streaming.add_batch_s"] == pytest.approx(0.6)
    assert t["streaming.commit_s"] == pytest.approx(0.15)
    assert t["streaming.query_planning_s"] == pytest.approx(0.2)
    assert t["streaming.state_rows"] == 8
    assert t["streaming.state_memory_mb"] == pytest.approx(2.0)


def test_benchmark_json_matches_the_metrics_the_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END.items())
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER.items())
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [w["name"] for w in spec["workloads"]]
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_parquet_rows_reads_the_footers_of_every_part(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / "counts"
    out.mkdir()
    pq.write_table(pa.table({"word": ["a", "b"]}), str(out / "part-0.parquet"))
    pq.write_table(pa.table({"word": ["c"]}), str(out / "part-1.parquet"))
    (out / "_SUCCESS").write_text("")
    assert run.parquet_rows(str(out)) == 3
