"""Per-query layer profiler for the bench headliners (optimization rounds).

Runs each named query once (default: bench.py's HEADLINE list) after
bench.py's warm-up and splits it in two: the DataFrame build (driver-side
building plus every Spark job an operator fires on the way, e.g. a
``materialize`` pin or a collected merge table) and the sink (the noop
writer, which times the computation, not driver IO). Spark jobs are
charged to each half by reading Spark's status store right after it
(``perfbench.sparkstats.StatusReader``; the UI stays off).

Output: one row per query of
    build_s  jobs  sink_s  jobs  stages  tasks  task_s  cpu_s  shufR_MB  shufW_MB
(task_s = executor run time, cpu_s = executor CPU time, both summed over
the stages that ran), plus, with --stages, one row per stage. With
--plans[=suffix] each query's formatted plan goes to
plans/$MMR_PLANS_DIR/<query>_<suffix>.txt.

This is a MEASUREMENT tool only — bench.py (the driver contract) is
unchanged; use this to decide what to fix and bench.py to prove it.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _stage_cols(st: dict) -> str:
    return (
        f"{int(st['stages']):6d} {int(st['tasks']):5d} {st['busy_s']:7.3f} {st['cpu_s']:7.3f} "
        f"{st['shuffle_read_bytes'] / 1e6:8.2f} {st['shuffle_write_bytes'] / 1e6:8.2f}"
    )


def main() -> None:
    argv = sys.argv[1:]
    want_stages = "--stages" in argv
    want_plans = "--plans" in argv
    plans_suffix = "before"
    plans_dir = os.environ.get("MMR_PLANS_DIR", "r10")
    for a in argv:
        if a.startswith("--plans="):
            want_plans, plans_suffix = True, a.split("=", 1)[1]
    names = [a for a in argv if not a.startswith("--")]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import HEADLINE
    from mock_map_reduce_spark import get_spark, registry
    from perfbench.sparkstats import StatusReader

    registry.load_all()
    if not names:
        names = [n for n in HEADLINE if n in registry.QUERIES]

    spark = get_spark("profile")
    sc = spark.sparkContext

    # Same warm-up as bench.py: JVM, codegen, parquet footers, Python workers.
    registry.QUERIES["top_words"](spark, sf_dir).collect()

    def _warm(batches):
        import numpy, pandas  # noqa: F401

        yield from batches

    n_cores = sc.defaultParallelism
    spark.range(0, n_cores, 1, n_cores).mapInPandas(_warm, "id long").count()

    reader = StatusReader(spark)

    def jobs_since() -> list[dict]:
        reader.drain()
        return reader.new_jobs()

    stage_head = f"{'stages':>6s} {'tasks':>5s} {'task_s':>7s} {'cpu_s':>7s} {'shufR_MB':>8s} {'shufW_MB':>8s}"
    print(f"{'query':42s} {'build_s':>7s} {'jobs':>4s} {'sink_s':>7s} {'jobs':>4s} {stage_head}")
    total = (0.0, 0, 0.0, 0)
    stage_rows: list[str] = []
    for name in names:
        sc._jvm.System.gc()
        t0 = time.time()
        df = registry.QUERIES[name](spark, sf_dir)
        build_s = time.time() - t0
        build = jobs_since()
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        sink_s = time.time() - t0
        sink = jobs_since()
        st = reader.stage_totals([sid for j in build + sink for sid in j["stages"]])
        row = (build_s, len(build), sink_s, len(sink))
        total = tuple(a + b for a, b in zip(total, row))
        print(f"{name:42s} {build_s:7.3f} {len(build):4d} {sink_s:7.3f} {len(sink):4d} "
              f"{_stage_cols(st)}", flush=True)
        if want_stages:
            for half, jobs in (("build", build), ("sink", sink)):
                for sid in sorted({sid for j in jobs for sid in j["stages"]}):
                    one = reader.stage_totals([sid])
                    if one["stages"]:  # a skipped stage (reused shuffle output) ran nothing
                        stage_rows.append(f"{name:42s} {half:5s} {sid:5d} {_stage_cols(one)}")
        if want_plans:
            os.makedirs(os.path.join(REPO, "plans", plans_dir), exist_ok=True)
            with open(
                os.path.join(REPO, "plans", plans_dir, f"{name}_{plans_suffix}.txt"), "w"
            ) as fh:
                fh.write(
                    df._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                            "formatted"
                        )
                    )
                )
    print(f"{'total':42s} {total[0]:7.3f} {total[1]:4d} {total[2]:7.3f} {total[3]:4d}")
    spark.stop()
    if want_stages:
        print(f"\n{'query':42s} {'half':5s} {'stage':>5s} {stage_head}")
        print("\n".join(stage_rows))


if __name__ == "__main__":
    main()
