"""Spans around calls into the program's layers, plus Spark's own counters
for the jobs each call caused.

A span is (id, parent, name, start, end, run id). Spans stay in memory and
are written out once, when the run ends. Spark jobs and stages become child
spans of the benchmark span whose job group caused them, with Spark's own
submission/completion times. Counters come from the live status stores —
the app store for stages and tasks, the SQL store for plan-node metrics —
and are read after the operation ends, outside its timed region.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _add(self, name, start, end, parent, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "name": name,
                           "start": start, "end": end, "run": self.run_id,
                           **attrs})
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = self._add(name, time.time(), None, parent, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def child(self, parent: int, name: str, start: float, end: float,
              **attrs) -> int:
        return self._add(name, start, end, parent, **attrs)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval covered by its children (children are merged first, so
        overlapping Spark jobs are not subtracted twice)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            lo, hi = s["start"], s["end"]
            covered, cur = 0.0, None
            for a, b in sorted(kids.get(s["id"], ())):
                a, b = max(a, lo), min(b, hi)
                if b <= a:
                    continue
                if cur is None or a > cur[1]:
                    if cur is not None:
                        covered += cur[1] - cur[0]
                    cur = [a, b]
                else:
                    cur[1] = max(cur[1], b)
            if cur is not None:
                covered += cur[1] - cur[0]
            out[s["name"]] = out.get(s["name"], 0.0) + (hi - lo) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": self.self_times(), **extra}, fh)


# SQL plan-node metrics the per-layer report needs, by Spark's display name.
SQL_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.total_s",
    "data sent to Python workers": "python.sent_bytes",
    "data returned from Python workers": "python.recv_bytes",
    "scan time": "scan_s",
    "duration": "codegen.pipeline_s",
}
# Python plan nodes attributed to a layer by a marker in the node's
# description (the UDF's function name or an output column); first match.
NODE_LAYERS = (
    ("count_rows(", "plans.lineage.instrument"),
    ("_decode_batches(", "sources.rasters.read_rasters"),
    ("v_min", "operators.tiling.tile_stats"),
    ("tile_w", "operators.tiling.raster_to_tiles"),
)
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_VALUE = re.compile(r"([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric ('1.2 s', '3.0 MiB', '1,000', or the
    'total (min, med, max ...)' form whose second line leads with the
    total) → seconds, bytes or a plain count."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _TIME_UNITS.get(unit, _SIZE_UNITS.get(unit, 1))


class SparkCounters:
    """Reads Spark's counters for one job group from the live stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def sql_mark(self) -> int:
        return int(self.sql.executionsCount())

    def _date(self, opt) -> float | None:
        return opt.get().getTime() / 1000.0 if opt.isDefined() else None

    def collect(self, group: str, sql_from: int, tracer: Tracer | None,
                parent: int | None) -> dict:
        """Counters of every job in `group` and every SQL execution listed
        after position `sql_from`; job and stage spans go under `parent`."""
        c = {"jobs": 0, "tasks": 0, "stages": 0, "run_s": 0.0, "cpu_s": 0.0,
             "gc_s": 0.0, "input_bytes": 0, "shuffle.write_bytes": 0,
             "shuffle.read_bytes": 0, "spill.disk_bytes": 0,
             "task_skew": 1.0}
        seen: set[int] = set()
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            job = self.store.job(jid)
            c["jobs"] += 1
            jspan = None
            if tracer is not None and tracer.enabled:
                js, je = self._date(job.submissionTime()), self._date(
                    job.completionTime())
                if js is not None and je is not None:
                    jspan = tracer.child(parent, "spark.job", js, je, job=jid)
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                st = self.store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks()
                c["run_s"] += st.executorRunTime() / 1e3
                c["cpu_s"] += st.executorCpuTime() / 1e9
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["input_bytes"] += st.inputBytes()
                c["shuffle.write_bytes"] += st.shuffleWriteBytes()
                c["shuffle.read_bytes"] += st.shuffleReadBytes()
                c["spill.disk_bytes"] += st.diskBytesSpilled()
                if st.numCompleteTasks() > 1:
                    summ = self.store.taskSummary(sid, st.attemptId(),
                                                  self._quantiles)
                    if summ.isDefined():
                        rt = summ.get().executorRunTime()
                        med, mx = rt.apply(0), rt.apply(1)
                        if med > 0:
                            c["task_skew"] = max(c["task_skew"], mx / med)
                if jspan is not None:
                    ss, se = self._date(st.submissionTime()), self._date(
                        st.completionTime())
                    if ss is not None and se is not None:
                        tracer.child(jspan, "spark.stage", ss, se, stage=sid,
                                     tasks=st.numCompleteTasks())
        c.update(self._sql(sql_from))
        return c

    def _sql(self, sql_from: int) -> dict:
        out = {v: 0.0 for v in SQL_METRICS.values()}
        n = int(self.sql.executionsCount())
        if n <= sql_from:
            return out
        execs = self.sql.executionsList(sql_from, n - sql_from)
        # A persisted plan shows up, with the same accumulators, in every
        # execution that reads it: count each accumulator once per call.
        seen: set[int] = set()
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                desc = node.desc()
                layer = next((lay for key, lay in NODE_LAYERS if key in desc),
                             None)
                metrics = node.metrics()
                for j in range(metrics.size()):
                    pm = metrics.apply(j)
                    key = SQL_METRICS.get(pm.name())
                    acc = pm.accumulatorId()
                    if key is None or acc in seen:
                        continue
                    seen.add(acc)
                    v = values.get(acc)
                    if not v.isDefined():
                        continue
                    val = parse_metric(v.get())
                    out[key] += val
                    if layer is not None and key == "python.total_s":
                        name = f"python_s:{layer}"
                        out[name] = out.get(name, 0.0) + val
        return out
