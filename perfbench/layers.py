"""Per-layer counters for the traced run, read from outside the engine.

Nothing here touches the package: the counters come from Spark's own
status stores (jobs, stages, tasks and the final AQE plans of SQL
executions), a ``StreamingQueryListener``, and the driver's registry
of persistent RDDs, each read before and after one operation. The
benchmark runs one client in a closed loop, so everything that happens
between the two reads belongs to that operation.

Spans (pass → operation → build/drain, plus sink calls inside build)
are kept in memory and written out once, with self time per span.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass

#: Per-layer counters summed over one operation. Names are the
#: per-layer metric names in BENCHMARK.json.
LAYER_KEYS = (
    "operators.build_s", "operators.build_jobs", "exec.drain_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s",
    "sources.scan_s", "sources.input_bytes", "sources.input_rows",
    "sinks.write_s", "sinks.output_bytes",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes",
    "plan.exchanges", "plan.sort_merge_joins", "plan.broadcast_joins",
    "cache.fills", "cache.persisted_after",
    "functions.python_rows", "functions.python_bytes",
    "streaming.batches", "streaming.batch_s", "streaming.state_commit_s",
    "streaming.state_rows",
)

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def metric_value(text: str) -> float:
    """Parse one SQL metric as the status store formats it: ``"1,234"``
    for sums, or ``"total (min, med, max ...)\\n12.5 KiB (...)"`` for
    sizes and timings (the total is the first figure of the last line)."""
    line = text.strip().split("\n")[-1]
    head = line.split(" (")[0].split()
    if not head:
        return 0.0
    value = float(head[0].replace(",", ""))
    return value * _UNITS.get(head[1], 1.0) if len(head) > 1 else value


def _listener_class():
    # imported here, not at module level: importing pyspark before the
    # timed set-up would move its import cost out of setup_s
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener


@dataclass
class Snapshot:
    job: int
    sql: int
    rdds: frozenset
    progress: int


class LayerProbe:
    """Reads the layer counters of one operation: ``before()`` ahead of
    it, ``between()`` after its build, ``after()`` when it is drained."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._app = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.listener = _listener_class()()
        self._attached = False

    def attach(self) -> None:
        if not self._attached:
            self.spark.streams.addListener(self.listener)
            self._attached = True

    def detach(self) -> None:
        if self._attached:
            self.spark.streams.removeListener(self.listener)
            self._attached = False

    # -- raw reads -----------------------------------------------------

    def _drain_bus(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def _last_job(self) -> int:
        jobs = self._app.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _last_sql(self) -> int:
        n = self._sql.executionsCount()
        if not n:
            return -1
        return self._sql.executionsList(n - 1, 1).apply(0).executionId()

    def persistent_rdds(self) -> frozenset:
        return frozenset(int(k) for k in self.sc._jsc.getPersistentRDDs().keys())

    def snapshot(self) -> Snapshot:
        self._drain_bus()
        return Snapshot(self._last_job(), self._last_sql(), self.persistent_rdds(),
                        len(self.listener.progress))

    def _jobs_since(self, job: int) -> list:
        jobs = self._app.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= job:
                break
            out.append(j)
        return out

    def _sql_since(self, sql: int) -> list[int]:
        n = self._sql.executionsCount()
        ids: list[int] = []
        start = n
        while start > 0:
            size = min(64, start)
            start -= size
            chunk = self._sql.executionsList(start, size)
            batch = [chunk.apply(i).executionId() for i in range(chunk.size())]
            newer = [e for e in batch if e > sql]
            ids.extend(newer)
            if len(newer) < len(batch):
                break
        return sorted(ids)

    # -- per-operation counters -------------------------------------------

    def count_jobs(self, since: Snapshot) -> int:
        self._drain_bus()
        return len(self._jobs_since(since.job))

    def counters(self, since: Snapshot) -> dict:
        """Counters of everything that ran after ``since`` (a snapshot
        taken ahead of the operation)."""
        self._drain_bus()
        c = dict.fromkeys(LAYER_KEYS, 0)
        jobs = self._jobs_since(since.job)
        stage_ids = sorted({j.stageIds().apply(i) for j in jobs for i in range(j.stageIds().size())})
        c["spark.jobs"] = len(jobs)
        longest = None
        for sid in stage_ids:
            s = self._app.lastStageAttempt(sid)
            if str(s.status()) == "SKIPPED":
                continue
            c["spark.stages"] += 1
            c["spark.tasks"] += s.numTasks()
            run = s.executorRunTime()
            c["spark.executor_run_s"] += run / 1e3
            c["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            c["spark.gc_s"] += s.jvmGcTime() / 1e3
            c["sources.input_bytes"] += s.inputBytes()
            c["sources.input_rows"] += s.inputRecords()
            c["sinks.output_bytes"] += s.outputBytes()
            c["shuffle.write_bytes"] += s.shuffleWriteBytes()
            c["shuffle.read_bytes"] += s.shuffleReadBytes()
            c["shuffle.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if longest is None or run > longest[0]:
                longest = (run, s.stageId(), s.attemptId())
        c["spark.task_skew"] = self._skew(longest)
        c["spark.longest_stage_s"] = longest[0] / 1e3 if longest else 0.0

        for eid in self._sql_since(since.sql):
            self._plan_counters(eid, c)

        rdds = self.persistent_rdds()
        c["cache.fills"] = len(rdds - since.rdds)

        for p in self.listener.progress[since.progress:]:
            c["streaming.batches"] += 1
            c["streaming.batch_s"] += p.durationMs.get("triggerExecution", 0) / 1e3
            for so in p.stateOperators:
                c["streaming.state_commit_s"] += so.commitTimeMs / 1e3
        last_rows: dict = {}
        for p in self.listener.progress[since.progress:]:
            last_rows[p.id] = sum(so.numRowsTotal for so in p.stateOperators)
        c["streaming.state_rows"] = sum(last_rows.values())
        return c

    def leftover(self, since: Snapshot) -> int:
        """Persistent RDDs created after ``since`` that are still
        registered (call after ``clearCache``)."""
        return len(self.persistent_rdds() - since.rdds)

    def _skew(self, longest) -> float:
        """max / median task run time in the given stage."""
        if longest is None:
            return 1.0
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = self._app.taskSummary(longest[1], longest[2], qs)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0

    def _plan_counters(self, execution_id: int, c: dict) -> None:
        graph = self._sql.planGraph(execution_id)
        values = self._sql.executionMetrics(execution_id)
        nodes = graph.allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            name = node.name()
            if name == "Exchange":
                c["plan.exchanges"] += 1
            elif name == "SortMergeJoin":
                c["plan.sort_merge_joins"] += 1
            elif name == "BroadcastHashJoin":
                c["plan.broadcast_joins"] += 1
            metrics = node.metrics()
            found = {}
            for i in range(metrics.size()):
                m = metrics.apply(i)
                if m.name() in ("data sent to Python workers",
                                "data returned from Python workers",
                                "number of output rows"):
                    v = values.get(m.accumulatorId())
                    found[m.name()] = metric_value(v.get()) if v.isDefined() else 0.0
            crossed = (found.get("data sent to Python workers", 0.0)
                       + found.get("data returned from Python workers", 0.0))
            if crossed > 0:
                c["functions.python_bytes"] += crossed
                c["functions.python_rows"] += found.get("number of output rows", 0.0)


class Spans:
    """In-memory spans: (id, parent, pass, name, start, end)."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.rows: list[list] = []

    def open(self, name: str, parent: int | None, pass_id: int) -> int:
        self.rows.append([len(self.rows), parent, pass_id, name, self.clock(), None])
        return len(self.rows) - 1

    def close(self, span: int) -> float:
        self.rows[span][5] = self.clock()
        return self.rows[span][5] - self.rows[span][4]

    def add(self, name: str, parent: int | None, pass_id: int, start: float, end: float) -> int:
        self.rows.append([len(self.rows), parent, pass_id, name, start, end])
        return len(self.rows) - 1

    def records(self) -> list[dict]:
        """Spans with duration and self time (duration minus the part
        its children cover; children never overlap in this loop)."""
        child_s: dict[int, float] = {}
        for sid, parent, _, _, t0, t1 in self.rows:
            if parent is not None and t1 is not None:
                child_s[parent] = child_s.get(parent, 0.0) + (t1 - t0)
        out = []
        base = self.rows[0][4] if self.rows else 0.0
        for sid, parent, pass_id, name, t0, t1 in self.rows:
            dur = (t1 or t0) - t0
            out.append({"id": sid, "parent": parent, "pass": pass_id, "name": name,
                        "start_s": t0 - base, "dur_s": dur,
                        "self_s": dur - child_s.get(sid, 0.0)})
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.records()}, fh, indent=1)
