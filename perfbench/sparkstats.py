"""Spark's own bookkeeping, read from outside the engine for the traced run.

* jobs and stages from the core ``AppStatusStore`` (what the web UI
  shows, kept even with the UI off);
* SQL metrics (Python-runner bytes and times, written files and bytes)
  from the SQL ``statusStore`` of the session;
* Catalyst phase times from a ``QueryExecution``'s tracker;
* streaming progress from a ``StreamingQueryListener``.

Every reader returns only what happened since its previous call, so the
caller can charge each pass with its own work.
"""

from __future__ import annotations

import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

# SQL metric name -> layer metric (bytes, seconds or a count)
SQL_METRICS = {
    "data sent to Python workers": "python.sent_bytes",
    "data returned from Python workers": "python.returned_bytes",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "number of written files": "sources.output_files",
    "written output": "sources.output_bytes",
}

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """A SQL metric's display string as a number in bytes, seconds or
    units: ``'5,000'``, ``'26.3 KiB'`` or the multi-task form
    ``'total (min, med, max ...)\\n4.8 s (1.1 s, ...)'``."""
    head = text.strip().splitlines()[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS[head[1]] if len(head) > 1 else value


def catalyst_phases_ms(jdf) -> dict[str, float]:
    """analysis / optimization / planning milliseconds of a Dataset's
    QueryExecution (phases that have not run are absent)."""
    phases = jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            out[name] = float(opt.get().durationMs())
    return out


class StatusReader:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._jsc = sc._jsc
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.drain()
        self._last_job = max((j.jobId() for j in self._jobs()), default=-1)
        self._last_exec = max((e.executionId() for e in self._execs()), default=-1)

    def _jobs(self):
        return self._conv.asJava(self._store.jobsList(None))

    def _execs(self):
        return self._conv.asJava(self._sql.executionsList())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._sc.listenerBus().waitUntilEmpty()

    def skip(self) -> None:
        """Forget everything up to now (the work of an untraced pass)."""
        self.drain()
        self.new_jobs()
        self.new_sql_metrics()

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the last call: id, epoch-second
        submit/complete times, stage ids, status."""
        out = []
        for j in self._jobs():
            jid = j.jobId()
            if jid <= self._last_job or not j.submissionTime().isDefined():
                continue
            sub = j.submissionTime().get().getTime() / 1000.0
            done = j.completionTime()
            out.append({
                "job_id": jid,
                "submit": sub,
                "complete": done.get().getTime() / 1000.0 if done.isDefined() else time.time(),
                "stages": list(self._conv.asJava(j.stageIds())),
                "status": j.status().toString(),
            })
        if out:
            self._last_job = max(j["job_id"] for j in out)
        return sorted(out, key=lambda j: j["job_id"])

    def stage_totals(self, stage_ids) -> dict[str, float]:
        """Task metrics summed over the stages that ran (skipped stages,
        whose shuffle output was reused, contribute nothing)."""
        t = dict.fromkeys(
            ("stages", "tasks", "failed_tasks", "busy_s", "cpu_s", "gc_s", "input_bytes",
             "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"), 0.0)
        for sid in sorted(set(stage_ids)):
            try:
                s = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted or never submitted
                continue
            if s.status().toString() == "SKIPPED":
                continue
            t["stages"] += 1
            t["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            t["failed_tasks"] += s.numFailedTasks()
            t["busy_s"] += s.executorRunTime() / 1e3
            t["cpu_s"] += s.executorCpuTime() / 1e9
            t["gc_s"] += s.jvmGcTime() / 1e3
            t["input_bytes"] += s.inputBytes()
            t["shuffle_write_bytes"] += s.shuffleWriteBytes()
            t["shuffle_read_bytes"] += s.shuffleReadBytes()
            t["spill_bytes"] += s.diskBytesSpilled()
        return t

    def new_sql_metrics(self) -> dict[str, float]:
        """SQL_METRICS summed over executions started since the last
        call, plus ``sources.write_s``: wall time of executions that
        wrote files."""
        out = dict.fromkeys(list(SQL_METRICS.values()) + ["sources.write_s"], 0.0)
        newest = self._last_exec
        for e in self._execs():
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            newest = max(newest, eid)
            values = self._sql.executionMetrics(eid)
            seen = set()
            wrote = False
            for m in self._conv.asJava(e.metrics()):
                key = SQL_METRICS.get(m.name())
                acc = m.accumulatorId()
                if key is None or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    out[key] += parse_metric(v.get())
                    wrote = wrote or key == "sources.output_files"
            done = e.completionTime()
            if wrote and done.isDefined():
                out["sources.write_s"] += (done.get().getTime() - e.submissionTime()) / 1e3
        self._last_exec = newest
        return out


class ProgressListener(StreamingQueryListener):
    """Collects streaming progress events; ``take()`` returns and clears
    the events seen since the previous call."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "run_id": str(p.runId),
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        }
        with self._lock:
            self._events.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        with self._lock:
            out, self._events = self._events, []
        return out


def streaming_totals(events: list[dict]) -> dict[str, float]:
    """Per-pass streaming layer metrics from progress events: batch and
    phase-time sums, and the state size each query ended with."""
    ms = lambda k: sum(e["duration_ms"].get(k, 0) for e in events) / 1e3  # noqa: E731
    last: dict[str, dict] = {}
    for e in events:
        last[e["run_id"]] = e
    return {
        "streaming.batches": float(len(events)),
        "streaming.trigger_s": ms("triggerExecution"),
        "streaming.add_batch_s": ms("addBatch"),
        "streaming.query_planning_s": ms("queryPlanning"),
        "streaming.commit_s": ms("commitOffsets") + ms("walCommit"),
        "streaming.state_rows": float(sum(e["state_rows"] for e in last.values())),
        "streaming.state_memory_mb": sum(e["state_bytes"] for e in last.values()) / 2**20,
    }
