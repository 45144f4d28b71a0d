"""Engine benchmark: one closed-loop client driving the engine's public API.

    python3 perfbench/run.py --workload wordcount --seed 1 --seconds 10 --trace 0

One driver process on ``local[<nproc>]`` runs the workload's queries one
after another, each forced by the sink ``bench.py`` uses (``collect()``
for LIMIT plans, a row count otherwise), and repeats that pass until
``--seconds`` have been measured. Inputs are generated from ``--seed``
and every result is checked against a DuckDB oracle. ``--trace 1`` runs
untraced and traced passes in the same process and reports per-layer
metrics instead of end-to-end ones. Everything the run writes stays in
``.perfbench/`` at the root of the checkout. The last line of stdout is
the result as JSON; see perfbench/README.md for the metrics.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

import procstat  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, covered  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench")

WORKLOADS = {
    "wordcount": ("wordcount",),
    "python_udf": (
        "dedup_lsh_candidates",
        "multimodal_image_features",
        "streaming_tumbling_counts",
        "remote_fs_impl_scan_words",
    ),
}
QUERIES = tuple(q for qs in WORKLOADS.values() for q in qs)
# Untimed passes before measuring: the first also compares full results
# with the oracle and pays codegen; JIT compilation still runs after it.
# A wordcount pass took about 35% less CPU after six passes than after
# two, so it warms up longer; a python_udf pass costs about 3x as much.
WARMUP_PASSES = {"wordcount": 6, "python_udf": 2}

# name -> unit; the order is the order of BENCHMARK.json.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "pass_cpu_s": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "catalog.build_s": "s",
    "catalog.build_self_s": "s",
    "catalog.build_jobs": "count",
    **{f"catalog.{q}_s": "s" for q in QUERIES},
    "sources.load_s": "s",
    "sources.input_bytes": "bytes",
    "sources.write_s": "s",
    "sources.output_bytes": "bytes",
    "sources.output_files": "count",
    "operators.wordcount.dual_sink_s": "s",
    "operators.wordcount.top_n_s": "s",
    "materialize.pins_open": "count",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_memory_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.task_busy_s": "s",
    "spark.task_cpu_s": "s",
    "spark.core_util": "ratio",
    "spark.idle_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "python.sent_bytes": "bytes",
    "python.returned_bytes": "bytes",
    "python.start_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "trace.overhead_s": "s",
}


# The driver heap, fixed (-Xms = -Xmx) and touched at start: the session's
# 48g default does not fit a small host, and heap resizing and how much
# of the heap GC happened to touch made peak RSS vary up to 2x between runs.
DRIVER_MEMORY = "3g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Keep every file the engine, the JVM and the Python workers write
    inside WORK, and size the driver for a small host."""
    tmp = os.path.join(WORK, "tmp")
    for d in ("py", "spark", "java"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(tmp, 'java')} -XX:-UsePerfData "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")
    ).strip()
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_TOP_N"] = "50"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def calibrate_mt(n_threads: int) -> float:
    """All-cores CPU proxy, as bench.py's ``calib_mt``: wall time of
    ``n_threads`` concurrent sha256 passes over 200 MB."""

    def one(_) -> None:
        h = hashlib.sha256()
        block = bytes(1 << 20)
        for _ in range(200):
            h.update(block)

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=n_threads) as ex:
        list(ex.map(one, range(n_threads)))
    return time.perf_counter() - t0


class Bench:
    """The client: runs passes over one workload and checks results."""

    def __init__(self, spark, workload: str, inputs: dict, expect: dict, tracer) -> None:
        from mock_map_reduce_spark import registry

        self.spark = spark
        self.workload = workload
        self.queries = WORKLOADS[workload]
        self.inputs = inputs
        self.expect = expect
        self.tracer = tracer
        self.builders = registry.QUERIES
        self.limit_plan: dict[str, bool] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[dict] = []
        self.latency: dict[str, list[float]] = {q: [] for q in self.queries}
        self.sink_qes: list = []  # sink QueryExecutions of the current pass
        self.engine_s = 0.0  # time inside engine calls, verification excluded
        self.pass_no = 0

    def run_pass(self, full: bool = False) -> dict:
        """One pass over the workload; ``full`` compares whole results
        with the oracle (the warm-up pass), otherwise row counts."""
        self.sink_qes = []
        c0 = procstat.tree_cpu_s(os.getpid())
        s0 = steal_s()
        t0 = time.perf_counter()
        with self.tracer.span("pass", workload=self.workload, n=self.pass_no) as span:
            per_query = {q: self._query(q, full) for q in self.queries}
            pins = self._release_pins()
        wall = time.perf_counter() - t0
        cpu = procstat.tree_cpu_s(os.getpid()) - c0
        self.pass_no += 1
        return {"wall": wall, "cpu": cpu, "steal": steal_s() - s0, "span": span.id if span else None,
                "queries": per_query, "pins_open": pins}

    def _release_pins(self) -> int:
        """The number of cached plans the pass left pinned
        (``materialize``, the dual sink's cached counts), which are then
        dropped with ``clearCache()``, the engine's documented release,
        so that pins do not pile up from pass to pass."""
        pins = int(self.spark._jsc.getPersistentRDDs().size())
        self.spark.catalog.clearCache()
        return pins

    def _query(self, q: str, full: bool) -> float:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            err = self._wordcount(full) if q == "wordcount" else self._catalog_query(q, full)
        except Exception as ex:  # noqa: BLE001 - a failing query is a result, not a crash
            lines = str(ex).strip().splitlines()
            err = f"{type(ex).__name__}: {lines[0][:300] if lines else ''}"
        elapsed = time.perf_counter() - t0
        if not full:
            self.latency[q].append(elapsed)
        if err is not None:
            self.failed += 1
            self.failures.append({"query": q, "pass": self.pass_no, "error": err})
            print(f"FAILED {q} (pass {self.pass_no}): {err}", file=sys.stderr, flush=True)
        return elapsed

    def _catalog_query(self, q: str, full: bool) -> str | None:
        from oracle import mismatch

        exp = self.expect[q]
        t0 = time.perf_counter()
        with self.tracer.span(f"query:{q}", query=q):
            with self.tracer.span("build"):
                df = self.builders[q](self.spark, self.inputs["tables_dir"])
            with self.tracer.span("sink"):
                if full:
                    rows = [tuple(r) for r in df.collect()]
                elif self.limit_plan.get(q, False):
                    n, sink = len(df.collect()), df
                else:
                    sink = df.groupBy().count()
                    n = sink.collect()[0][0]
        self.engine_s += time.perf_counter() - t0
        if full:
            plan = df._jdf.queryExecution().optimizedPlan().toString().lower()[:2000]
            self.limit_plan[q] = "limit" in plan
            return mismatch(exp, df.columns, rows)
        if self.tracer.enabled:
            self.sink_qes.append(sink._jdf)
        return None if n == exp["rows"] else f"row count {n}, expected {exp['rows']}"

    def _wordcount(self, full: bool) -> str | None:
        import pyarrow.parquet as pq
        from mock_map_reduce_spark.operators.wordcount import word_count_dual_sink
        from mock_map_reduce_spark.sources import load_table
        from oracle import TOP_N, mismatch

        exp = self.expect["wordcount"]
        out = os.path.join(WORK, "tmp", "wordcount_counts")
        t0 = time.perf_counter()
        with self.tracer.span("query:wordcount", query="wordcount"):
            with self.tracer.span("load_table"):
                docs = load_table(self.spark, self.inputs["corpus_dir"], "documents")
            with self.tracer.span("dual_sink"):
                top = word_count_dual_sink(docs, out, n=TOP_N)
            with self.tracer.span("top_n"):
                got = [[r["word"], r["count"]] for r in top.collect()]
        self.engine_s += time.perf_counter() - t0
        if self.tracer.enabled:
            self.sink_qes.append(top._jdf)
        if got != exp["top"]:
            return f"top-{TOP_N} differs from the oracle: got {got[:3]}..., expected {exp['top'][:3]}..."
        if full:
            t = pq.read_table(out)
            return mismatch(exp, t.column_names, list(zip(*(c.to_pylist() for c in t.columns))))
        n = parquet_rows(out)
        return None if n == exp["rows"] else f"count rows written {n}, expected {exp['rows']}"


def parquet_rows(path: str) -> int:
    """Rows of a parquet dataset, from the file footers only."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in pq.ParquetDataset(path).files)


def measure(bench: Bench, seconds: float) -> list[dict]:
    """Closed loop: passes back to back until ``seconds`` have elapsed
    (at least one pass)."""
    out = []
    t_end = time.perf_counter() + seconds
    while True:
        out.append(bench.run_pass())
        if time.perf_counter() >= t_end:
            return out


def measure_traced(bench: Bench, seconds: float, cores: int):
    """Untraced and traced passes, alternating so that warm-up drift
    falls on both alike, until ``seconds`` have elapsed. Returns
    (untraced passes, traced passes, per-layer sample of each traced pass)."""
    from sparkstats import ProgressListener, StatusReader

    listener = ProgressListener()
    bench.spark.streams.addListener(listener)
    reader = StatusReader(bench.spark)
    plain, traced, layers = [], [], []
    t_end = time.perf_counter() + seconds
    try:
        while not traced or time.perf_counter() < t_end:
            # Alternate which of the two goes first, so that warm-up drift
            # does not favour one side; the first pair starts traced.
            if len(traced) % 2 == 1:
                plain.append(bench.run_pass())
            reader.skip()
            listener.take()
            bench.tracer.enabled = True
            try:
                traced.append(bench.run_pass())
            finally:
                bench.tracer.enabled = False
            layers.append(layer_sample(bench, traced[-1], reader, listener, cores))
            if len(traced) % 2 == 1:
                plain.append(bench.run_pass())
    finally:
        bench.spark.streams.removeListener(listener)
    return plain, traced, layers


def layer_sample(bench: Bench, rec: dict, reader, listener, cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass."""
    from sparkstats import catalyst_phases_ms, streaming_totals

    tr = bench.tracer
    reader.drain()
    jobs = reader.new_jobs()
    for j in jobs:
        tr.attach(rec["span"], f"job:{j['job_id']}", j["submit"], j["complete"], "job",
                  job_id=j["job_id"], status=j["status"])
    spans = tr.descendants(rec["span"])
    by_name = lambda *names: [s for s in spans if s.kind == "span" and s.name in names]  # noqa: E731
    builds = by_name("build", "load_table")
    build_ids = {s.id for s in builds}
    st = reader.stage_totals([sid for j in jobs for sid in j["stages"]])
    wall = tr.spans[rec["span"]].duration
    job_iv = [(s.start, s.end) for s in spans if s.kind == "job"]
    out = {
        "catalog.build_s": sum(s.duration for s in builds),
        "catalog.build_self_s": sum(tr.self_time(s.id) for s in builds),
        "catalog.build_jobs": float(sum(1 for s in spans if s.kind == "job" and s.parent in build_ids)),
        "sources.load_s": sum(s.duration for s in by_name("load_table")),
        "sources.input_bytes": st["input_bytes"],
        "operators.wordcount.dual_sink_s": sum(s.duration for s in by_name("dual_sink")),
        "operators.wordcount.top_n_s": sum(s.duration for s in by_name("top_n")),
        "materialize.pins_open": float(rec["pins_open"]),
        "spark.jobs": float(len(jobs)),
        "spark.stages": st["stages"],
        "spark.tasks": st["tasks"],
        "spark.failed_tasks": st["failed_tasks"],
        "spark.task_busy_s": st["busy_s"],
        "spark.task_cpu_s": st["cpu_s"],
        "spark.core_util": st["busy_s"] / (wall * cores),
        "spark.idle_s": wall - covered(tr.spans[rec["span"]].start, tr.spans[rec["span"]].end, job_iv),
        "spark.shuffle_write_bytes": st["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": st["shuffle_read_bytes"],
        "spark.spill_bytes": st["spill_bytes"],
        "spark.gc_s": st["gc_s"],
    }
    for s in by_name(*(f"query:{q}" for q in bench.queries)):
        out[f"catalog.{s.attrs['query']}_s"] = s.duration
    out.update(reader.new_sql_metrics())
    out.update(streaming_totals(listener.take()))
    phases = [catalyst_phases_ms(jdf) for jdf in bench.sink_qes]
    for name in ("analysis", "optimization", "planning"):
        out[f"catalyst.{name}_ms"] = sum(p.get(name, 0.0) for p in phases)
    return out


def stop_engine(spark) -> None:
    """Stop Spark, then make sure the JVM and every Python worker this
    process started have exited."""
    from pyspark import SparkContext

    me = os.getpid()
    started = [p for p in procstat.tree_pids(me) if p != me]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    alive = started
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _running(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    while any(_running(p) for p in alive) and time.time() < deadline + 10:
        time.sleep(0.1)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mock_map_reduce_spark")):
        print(f"engine package not found next to {BENCH_DIR}; run from a full checkout",
              file=sys.stderr)
        return 2
    prepare_env()
    sys.path.insert(0, ROOT)

    import inputs
    import oracle

    part = "corpus" if args.workload == "wordcount" else "tables"
    info = inputs.ensure(os.path.join(WORK, "data"), args.seed, part)

    t = time.perf_counter()
    from mock_map_reduce_spark import get_spark, registry

    registry.load_all()
    registry_load_s = time.perf_counter() - t
    expect, oracle_s = oracle.expected(info, args.workload, list(WORKLOADS[args.workload]),
                                       registry.ORACLES, os.path.join(WORK, "tmp", "duckdb"))

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    t = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # A fixed-size, resident heap: no heap resizing while the run
        # measures, and its RSS does not depend on what GC touched.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
    })
    session_start_s = time.perf_counter() - t
    try:
        tracer = Tracer(enabled=False)
        bench = Bench(spark, args.workload, info, expect, tracer)
        warmup = [bench.run_pass(full=True)]  # JIT, codegen, worker spawn; full check
        warmup += [bench.run_pass() for _ in range(WARMUP_PASSES[args.workload] - 1)]
        bench.latency = {q: [] for q in bench.queries}
        setup_s = session_start_s + registry_load_s + bench.engine_s
        calib_pre = calibrate_mt(cores)

        sampler = procstat.PeakRss(os.getpid())
        steal0 = steal_s()
        sampler.start()
        if args.trace:
            plain, traced, layers = measure_traced(bench, args.seconds, cores)
        else:
            plain, traced, layers = measure(bench, args.seconds), [], []
        peak_rss = sampler.stop()
        steal = steal_s() - steal0
        calib_post = calibrate_mt(cores)
    finally:
        stop_engine(spark)

    pass_s = stats.median([r["wall"] for r in plain])
    if args.trace:
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics["session.start_s"] = session_start_s
        metrics["registry.load_s"] = registry_load_s
        for name in set().union(*layers):
            metrics[name] = stats.median([s.get(name, 0.0) for s in layers])
        metrics["trace.overhead_s"] = stats.median([r["wall"] for r in traced]) - pass_s
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "pass_cpu_s": stats.median([r["cpu"] for r in plain]),
            "peak_rss_mb": peak_rss / 2**20,
            "ok_frac": 1.0 - bench.failed / bench.attempted,
        }
        units = END_TO_END

    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc(),
        "cores": cores,
        "driver_memory": DRIVER_MEMORY,
        "pyspark": __import__("pyspark").__version__,
        "inputs": {k: info[k] for k in ("part", "input_bytes", "input_files")},
        "gen_s": info["gen_s"],
        "oracle_s": oracle_s,
        "calib_mt_pre": calib_pre,
        "calib_mt_post": calib_post,
        "steal_s": steal,
        "session_start_s": session_start_s,
        "registry_load_s": registry_load_s,
        "passes": len(plain),
        "pass_walls": [r["wall"] for r in plain],
        "pass_cpus": [r["cpu"] for r in plain],
        "pass_steals": [r["steal"] for r in plain],
        "pass_queries": [r["queries"] for r in plain],
        "warmup_queries": [r["queries"] for r in warmup],
        "traced_pass_walls": [r["wall"] for r in traced],
        "latency": {q: stats.summary(v) for q, v in bench.latency.items() if v},
        "failed_frac": bench.failed / bench.attempted,
        "failures": bench.failures,
        "process_s": time.perf_counter() - _T_PROCESS,
    }
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    with open(os.path.join(WORK, "runs", stem + ".json"), "w") as fh:
        json.dump({"meta": meta, "metrics": metrics}, fh, indent=1)
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", stem + ".json"), meta)

    for name, value in metrics.items():
        print(f"{name:<48} {value:>16.6g} {units[name]}")
    print(f"{'failed_frac':<48} {meta['failed_frac']:>16.6g} ratio")
    print("meta " + json.dumps(meta))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
