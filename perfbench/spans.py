"""Spans around calls into the engine's layers, and the per-layer reader.

A ``Tracer`` keeps spans in memory. Each span sets its own Spark job
group and job description (both equal to the span id), so every Spark
job, stage and SQL execution the call issues can be attributed to it
afterwards. Nothing is read from Spark while a span is open: the status
store is walked by ``LayerReader.collect`` after a traced round, outside
the timed region, and the spans are written out when the run ends.

Attribution of one span (``LayerReader._attribute``):

- self time = span wall minus the wall of its child spans;
- the part of self time covered by the span's own Spark jobs is split
  between the span's JVM layer and the layer owning its Python plan
  nodes (``MapInPandas``, ``MapInArrow``, ``ArrowEvalPython`` ...), in
  proportion to Python-node time over executor run time (capped at 1);
- the rest of self time (driver-side work) goes to the span's driver
  layer.

Stage metrics come from the status store's stage list (the same walk
``bench._failed_tasks`` does); Python metrics (``pythonTotalTime``,
``pythonBootTime``, ``pythonDataSent``, ``pythonDataReceived``) come
from the SQL status store's plan graphs.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

LAYERS = ("extract", "cells", "joins", "discover", "fuse", "geom", "checkpoint")
LAYER_METRICS = (("wall_s", "s"), ("exec_cpu_s", "s"), ("python_s", "s"),
                 ("python_boot_s", "s"), ("python_bytes", "B"),
                 ("shuffle_bytes", "B"), ("spill_bytes", "B"),
                 ("task_skew", "ratio"), ("failed_tasks", "count"))
PY_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
            "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "MapInBatch")
JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")
_PY_METRIC = {"time to run Python workers": "python_s",
              "time to start Python workers": "python_boot_s",
              "data sent to Python workers": "python_bytes",
              "data returned from Python workers": "python_bytes"}
_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1.0,
         "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4}


def proc_stat() -> tuple[int, int, int, int]:
    """(busy, steal, total) jiffies of the host's aggregate cpu line,
    plus the number of per-cpu lines."""
    with open("/proc/stat") as f:
        lines = f.read().splitlines()
    vals = [int(x) for x in lines[0].split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    total = sum(vals[:8])
    ncpu = sum(1 for ln in lines if re.match(r"cpu\d", ln))
    return total - idle - steal, steal, total, ncpu


def host_usage(a, b) -> tuple[float, float]:
    """(steal %, busy cores) between two ``proc_stat`` samples."""
    d_total = max(1, b[2] - a[2])
    return 100.0 * (b[1] - a[1]) / d_total, b[3] * (b[0] - a[0]) / d_total


@dataclass
class Span:
    id: str
    name: str
    run_id: str
    parent: str | None
    jvm_layer: str
    py_layer: str
    driver_layer: str
    start: float
    end: float = 0.0
    steal_pct: float = 0.0
    rows: int = 0          # result rows the caller reports, if any
    candidates: int | None = None   # join candidates, if not read from the plan
    children: list = field(default_factory=list)


class Tracer:
    """Spans of one benchmark run, kept in memory."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _tag(self, span_id):
        self.sc.setLocalProperty("spark.jobGroup.id", span_id)
        self.sc.setLocalProperty("spark.job.description", span_id)

    @contextmanager
    def span(self, name: str, jvm_layer: str, py_layer: str | None = None,
             driver_layer: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(id=f"{self.run_id}:{len(self.spans)}", name=name,
                  run_id=self.run_id, parent=parent.id if parent else None,
                  jvm_layer=jvm_layer, py_layer=py_layer or jvm_layer,
                  driver_layer=driver_layer or jvm_layer, start=0.0)
        self.spans.append(sp)
        if parent:
            parent.children.append(sp.id)
        self._stack.append(sp)
        self._tag(sp.id)
        st0 = proc_stat()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.steal_pct = host_usage(st0, proc_stat())[0]
            self._stack.pop()
            self._tag(parent.id if parent else None)


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric value (``'12 ms'``, ``'1.2 s'``,
    ``'total (min, med, max ...)\\n3.4 KiB (...)'``) in seconds or bytes."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([0-9][0-9,]*\.?[0-9]*)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


class LayerReader:
    """Reads stage and SQL metrics for finished spans and accumulates
    them per layer."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        q = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._quantiles = q
        self._seen_stages: set[int] = set()
        self._seen_exec = -1
        self.layers = {name: _zero() for name in LAYERS + ("jobs.pipeline",)}
        self.join_candidates = 0
        self.join_results = 0
        self.scored_pairs = 0
        self.span_layer_s: dict[tuple[str, str], float] = {}

    def _executions(self) -> dict[str, list[int]]:
        """span id -> SQL execution ids started since the last call."""
        out: dict[str, list[int]] = {}
        exs = self._sql.executionsList()
        newest = self._seen_exec
        for i in range(exs.size()):
            ex = exs.apply(i)
            eid = ex.executionId()
            if eid > self._seen_exec:
                out.setdefault(ex.description(), []).append(eid)
                newest = max(newest, eid)
        self._seen_exec = newest
        return out

    def _plan_metrics(self, eid: int) -> tuple[dict, int, int]:
        """Python metrics of one execution's Python nodes, the rows out of
        them, and the largest row count out of any join node. That count
        is the candidate pairs only where the exact test runs after the
        join (the Python refine of ``intersects_join``); a refine that
        Catalyst pushes into the join condition (``radius_join``'s
        distance filter) leaves results there, so those spans carry
        their candidates themselves."""
        py = dict.fromkeys(("python_s", "python_boot_s", "python_bytes"), 0.0)
        vals = self._conv.asJava(self._sql.executionMetrics(eid))
        nodes = self._sql.planGraph(eid).allNodes()
        py_rows = join_rows = 0
        for k in range(nodes.size()):
            node = nodes.apply(k)
            is_py = node.name().startswith(PY_NODES)
            is_join = node.name().startswith(JOIN_NODES)
            if not (is_py or is_join):
                continue
            ms = node.metrics()
            for m in range(ms.size()):
                metric = ms.apply(m)
                value = parse_metric(vals.get(metric.accumulatorId()))
                if metric.name() == "number of output rows":
                    if is_py:
                        py_rows += int(value)
                    else:
                        join_rows = max(join_rows, int(value))
                elif is_py and metric.name() in _PY_METRIC:
                    py[_PY_METRIC[metric.name()]] += value
        return py, py_rows, join_rows

    def _stages(self, span_id: str) -> tuple[list, float]:
        """Unclaimed, executed stages of the span's jobs, and the wall
        the jobs covered (union of their [submit, complete] intervals)."""
        stages, intervals = [], []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(span_id):
            jd = self._store.job(job_id)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append((jd.submissionTime().get().getTime() / 1e3,
                                  jd.completionTime().get().getTime() / 1e3))
            ids = jd.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._seen_stages:
                    continue
                sd = self._store.lastStageAttempt(sid)
                if sd.numCompleteTasks() + sd.numFailedTasks() == 0:
                    continue
                self._seen_stages.add(sid)
                stages.append(sd)
        covered, last = 0.0, None
        for a, b in sorted(intervals):
            if last is not None and a < last:
                a = last
            if b > a:
                covered += b - a
            last = b if last is None else max(last, b)
        return stages, covered

    def _skew(self, sd) -> float:
        ts = self._store.taskSummary(sd.stageId(), sd.attemptId(), self._quantiles)
        if not ts.isDefined():
            return 1.0
        d = ts.get().duration()
        med, mx = d.apply(0), d.apply(1)
        return mx / med if med > 0 else 1.0

    def collect(self, tracer: Tracer, spans: list[Span]) -> None:
        """Attribute the given finished spans (in start order)."""
        self._bus.waitUntilEmpty()
        execs = self._executions()
        by_id = {s.id: s for s in tracer.spans}
        for sp in spans:
            self._attribute(sp, by_id, execs.get(sp.id, []))

    def _attribute(self, sp: Span, by_id: dict, exec_ids: list[int]) -> None:
        wall = sp.end - sp.start
        child = sum(by_id[c].end - by_id[c].start for c in sp.children)
        self_s = max(0.0, wall - child)
        stages, jobs_wall = self._stages(sp.id)
        jobs_wall = min(jobs_wall, self_s)
        py = dict.fromkeys(("python_s", "python_boot_s", "python_bytes"), 0.0)
        for eid in exec_ids:
            m, py_rows, join_rows = self._plan_metrics(eid)
            for k in py:
                py[k] += m[k]
            if sp.py_layer == "discover":
                self.scored_pairs += py_rows
            if sp.jvm_layer == sp.py_layer == "joins" and sp.candidates is None:
                self.join_candidates += join_rows
        if sp.jvm_layer == sp.py_layer == "joins":
            self.join_results += sp.rows
            self.join_candidates += sp.candidates or 0
        exec_s = sum(sd.executorRunTime() for sd in stages) / 1e3
        share = 0.0
        if sp.py_layer != sp.jvm_layer and exec_s > 0:
            share = min(1.0, py["python_s"] / exec_s)
        for layer, secs in ((sp.driver_layer, self_s - jobs_wall),
                            (sp.jvm_layer, jobs_wall * (1.0 - share)),
                            (sp.py_layer, jobs_wall * share)):
            self.layers[layer]["wall_s"] += secs
            key = (sp.name.split(":")[0], layer)
            self.span_layer_s[key] = self.span_layer_s.get(key, 0.0) + secs
        jvm, pyl = self.layers[sp.jvm_layer], self.layers[sp.py_layer]
        for sd in stages:
            add = {"exec_cpu_s": sd.executorCpuTime() / 1e9,
                   "shuffle_bytes": float(sd.shuffleWriteBytes()),
                   "spill_bytes": float(sd.diskBytesSpilled())}
            for k, v in add.items():
                jvm[k] += v * (1.0 - share)
                pyl[k] += v * share
            jvm["failed_tasks"] += sd.numFailedTasks()
        if stages:
            skew = self._skew(max(stages, key=lambda sd: sd.executorRunTime()))
            for m in (jvm, pyl):
                m["task_skew"] = max(m["task_skew"], skew)
        for k, v in py.items():
            pyl[k] += v

    def per_round(self, n_rounds: int) -> dict[str, dict[str, float]]:
        """Layer metrics averaged over the traced rounds; ``task_skew`` is
        the largest over the layer's spans of the skew in the span's
        longest stage."""
        n = max(1, n_rounds)
        return {name: {k: (v if k == "task_skew" else v / n) for k, v in m.items()}
                for name, m in self.layers.items()}


def _zero() -> dict[str, float]:
    return {k: 0.0 for k, _ in LAYER_METRICS}
