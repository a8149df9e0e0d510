"""Per-call tracing from outside the library: job groups, the status store
and the SQL plan metrics.

Each traced call runs in its own job group.  After the call returns, and
outside its timed region, the tracer waits for the listener bus to drain
and reads two sources Spark keeps with the UI disabled:

- the status store: the call's jobs (submission/completion), and per
  stage the run, CPU and GC time, shuffle bytes and write time, spill and
  the per-task run times (for skew);
- the SQL status store: each SQL execution the call started, its final
  (post-AQE) plan graph, and every operator's metrics — raw accumulator
  values where the accumulator is still registered, else the formatted
  value parsed back.

All JVM access goes through ``spark._jsc``/``_jsparkSession`` (classic
PySpark only).  Spans (name, start, end, parent) are kept in memory and
written once when the run ends.
"""

from __future__ import annotations

import itertools
import json
import re
import time
from contextlib import contextmanager

PY_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
            "FlatMapGroupsInPandas", "FlatMapGroupsInArrow")
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6, "ns": 1e-6}


def parse_metric(text: str) -> float:
    """A formatted SQL metric back to its raw unit (bytes, ms or count):
    ``'12.3 MiB'``, ``'total (min, med, max ...)\\n1.2 s (...)'``, ``'1,234'``."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        raise ValueError(f"unparseable metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class CallTrace:
    """What one traced call launched: jobs, stages and plan operators."""

    def __init__(self, name: str):
        self.name = name
        self.wall_s = 0.0
        self.start = self.end = 0.0  # epoch seconds
        self.jobs: list[dict] = []
        self.stages: list[dict] = []
        self.nodes: list[dict] = []  # plan operators over all executions
        self.read_s = 0.0

    def jobs_s(self) -> float:
        """Union of the call's job intervals — the time Spark jobs ran."""
        spans = sorted((j["start"], j["end"]) for j in self.jobs)
        total, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def driver_s(self) -> float:
        """Call wall minus job time: planning, collects' deserialization and
        the driver-side fold."""
        return max(0.0, self.wall_s - self.jobs_s())

    def margin_ms(self) -> float:
        """How far (ms) any job span pokes outside the call's own span.
        Job and call clocks are both wall-clock epoch time in one process
        tree, so a reconciled call reads ~0 (timestamps have ms grain)."""
        worst = 0.0
        for j in self.jobs:
            worst = max(worst, (self.start - j["start"]) * 1e3, (j["end"] - self.end) * 1e3)
        return worst

    def node_sum(self, names: tuple[str, ...], metric: str) -> float:
        """``metric`` summed over the operators named ``names``, counting an
        operator shown under several cached-plan scans once."""
        seen, total = set(), 0.0
        for n in self.nodes:
            if n["name"] in names and metric in n["metrics"]:
                acc, v = n["metrics"][metric]
                if acc in seen:
                    continue
                seen.add(acc)
                total += v
        return total

    def corpus_passes(self) -> int:
        """Distinct MapInArrow operators fed (transitively) by a parquet scan
        that actually received data."""
        accs = {n["metrics"][PY_SENT][0] for n in self.nodes
                if n["name"] == "MapInArrow" and n["reads_scan"]
                and n["metrics"].get(PY_SENT, (None, 0))[1] > 0}
        return len(accs)


class Tracer:
    """``with tracer.call(name) as ct:`` times the body; when ``enabled`` it
    also tags the body's jobs and, after the body, collects ``ct``."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        if enabled:
            self._sc = spark.sparkContext._jsc.sc()
            self._store = self._sc.statusStore()
            # the SQL listener registers lazily; touch it before any query
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._acc = spark._jvm.org.apache.spark.util.AccumulatorContext

    def reserve(self) -> int:
        """An id for a span whose children are recorded before it ends."""
        return next(self._ids)

    def span(self, name: str, start: float, end: float, parent: int | None,
             sid: int | None = None) -> int:
        sid = sid or self.reserve()
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent})
        return sid

    @contextmanager
    def call(self, name: str, parent: int | None = None):
        ct = CallTrace(name)
        group = f"perfbench-{self.reserve()}"
        if self.enabled:
            self.spark.sparkContext.setJobGroup(group, name)
            exec0 = self._sql.executionsCount()
        ct.start = time.time()
        t0 = time.perf_counter()
        try:
            yield ct
        finally:
            ct.wall_s = time.perf_counter() - t0
            ct.end = ct.start + ct.wall_s
            if self.enabled:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        if self.enabled:
            r0 = time.perf_counter()
            self._collect(ct, group, exec0)
            ct.read_s = time.perf_counter() - r0
        cid = self.span(name, ct.start, ct.end, parent)
        for j in ct.jobs:
            self.span(f"job {j['id']}", j["start"], j["end"], cid)

    # ------------------------------------------------------------ readers

    def _collect(self, ct: CallTrace, group: str, exec0: int) -> None:
        self._sc.listenerBus().waitUntilEmpty(60_000)
        jvm = self.spark._jvm
        empty = jvm.java.util.ArrayList
        no_q = self.spark.sparkContext._gateway.new_array(jvm.double, 0)
        stage_ids = set()
        for jid in self.spark.sparkContext.statusTracker().getJobIdsForGroup(group):
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            ct.jobs.append({"id": jid, "start": sub.get().getTime() / 1e3,
                            "end": done.get().getTime() / 1e3})
            ids = jd.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(sid, False, empty(), False, no_q)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                ct.stages.append(self._stage(sd))
        n_exec = self._sql.executionsCount()
        if n_exec > exec0:
            execs = self._sql.executionsList(exec0, n_exec - exec0)
            for i in range(execs.size()):
                ct.nodes.extend(self._plan_nodes(execs.apply(i).executionId()))

    def _stage(self, sd) -> dict:
        tasks = self._store.taskList(sd.stageId(), sd.attemptId(), 2**31 - 1)
        run_ms = []
        for i in range(tasks.size()):
            tm = tasks.apply(i).taskMetrics()
            if tm.isDefined():
                run_ms.append(tm.get().executorRunTime())
        run_ms.sort()
        skew = run_ms[-1] / max(run_ms[len(run_ms) // 2], 1) if run_ms else 0.0
        return {
            "id": sd.stageId(), "tasks": sd.numTasks(),
            "run_s": sd.executorRunTime() / 1e3, "cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3,
            "shuffle_write_b": sd.shuffleWriteBytes(),
            "shuffle_write_s": sd.shuffleWriteTime() / 1e9,
            "shuffle_read_b": sd.shuffleReadBytes(),
            "spill_b": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            "skew": skew,
        }

    def _plan_nodes(self, exec_id: int) -> list[dict]:
        graph = self._sql.planGraph(exec_id)
        formatted = self._sql.executionMetrics(exec_id)
        nodes = graph.allNodes()
        children: dict[int, list[int]] = {}
        edges = graph.edges()
        for i in range(edges.size()):
            e = edges.apply(i)
            children.setdefault(e.toId(), []).append(e.fromId())
        out, names = [], {}
        for i in range(nodes.size()):
            nd = nodes.apply(i)
            names[nd.id()] = nd.name()
            metrics = {}
            ms = nd.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                acc = m.accumulatorId()
                live = self._acc.get(acc)
                if live.isDefined():
                    metrics[m.name()] = (acc, float(live.get().value()))
                else:
                    txt = formatted.get(acc)
                    if txt.isDefined():
                        metrics[m.name()] = (acc, parse_metric(txt.get()))
            out.append({"id": nd.id(), "name": nd.name(), "metrics": metrics})

        def reads_scan(nid: int, seen: set) -> bool:
            if nid in seen:
                return False
            seen.add(nid)
            if names.get(nid, "").startswith("Scan parquet"):
                return True
            return any(reads_scan(c, seen) for c in children.get(nid, ()))

        for n in out:
            n["reads_scan"] = n["name"] == "MapInArrow" and reads_scan(n["id"], set())
        return out

    def write(self, path) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)
