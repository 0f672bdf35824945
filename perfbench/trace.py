"""Spans and Spark counters for the traced run.

Everything here is read from outside the program: spans wrap calls into the
package's public functions (installed by `instrument`, which patches module
attributes for the life of one traced run), and Spark's own counters are
read through py4j after each operation:

* per-execution SQL metrics from the session's SQL status store,
* compile count and time from the code generator,
* planning phases from each query execution's tracker, delivered by a
  query-execution listener,
* job and task counts from the status tracker, per operation job group.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import functools
import os
import re
import time
from contextlib import contextmanager

# table written by Catalog.write -> layer whose plan that write executes
_TABLE_LAYER = {
    "rollup_1m": "plans.rollup",
    "rollup_1h": "plans.rollup",
    "rollup_1d": "plans.rollup",
    "chunks": "plans.chunks",
}

# SQL metric names summed per operation (Spark's own display names)
SQL_METRICS = {
    "py_run_ms": ("time to run Python workers",),
    "py_init_ms": ("time to initialize Python workers",),
    "arrow_bytes_in": ("data sent to Python workers",),
    "arrow_bytes_out": ("data returned from Python workers",),
    "shuffle_bytes": ("shuffle bytes written",),
    "spill_bytes": ("spill size",),
    "write_bytes": ("written output", "written output size"),
    "job_commit_ms": ("job commit time",),
    "task_commit_ms": ("task commit time",),
}

_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40, "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}


def parse_metric(text: str) -> float:
    """Total of one SQL metric as the status store formats it: a plain
    count ('4,000'), or a size / duration ('113.2 KiB', '1.2 s'), optionally
    preceded by a 'total (min, med, max ...)' header line.  Sizes come back
    in bytes, durations in milliseconds."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class Tracer:
    """Spans (name, layer, start, end, parent) kept in memory."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "layer": layer, "t0": time.time(),
               "t1": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["t1"] = time.time()

    def self_times(self, root_ids: list[int]) -> dict[str, float]:
        """Seconds of self time per layer over the trees under `root_ids`
        (span duration minus the time its children cover; children of one
        span never overlap, they run on the benchmark's one thread)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        todo = list(root_ids)
        while todo:
            s = self.spans[todo.pop()]
            ch = kids.get(s["id"], [])
            own = (s["t1"] - s["t0"]) - sum(c["t1"] - c["t0"] for c in ch)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
            todo.extend(c["id"] for c in ch)
        return out


def _wrap(tracer: Tracer, fn, name: str, layer):
    @functools.wraps(fn)
    def inner(*args, **kwargs):
        lay, nm = layer, name
        if callable(layer):
            lay, nm = layer(args, kwargs)
        with tracer.span(nm, lay):
            return fn(*args, **kwargs)
    return inner


def _write_layer(args, kwargs) -> tuple[str, str]:
    """(layer, span name) of a Catalog.write(df, name, ...) call."""
    table = args[2] if len(args) > 2 else kwargs.get("name", "")
    return _TABLE_LAYER.get(table, "catalog"), f"catalog.write:{table}"


def instrument(tracer: Tracer):
    """Wrap the package's public layer functions with spans.  Returns an
    undo callable that restores the originals.  A Catalog.write span
    executes the plan it writes, so its time is attributed to the layer
    that built that plan (the catalog's own commit time is reported
    separately, from Spark's write metrics)."""
    from ts2g2_spark import catalog
    from ts2g2_spark.plans import chunks, pipeline, rollup
    from ts2g2_spark.streaming import ingest

    targets = [
        (catalog.Catalog, "write", "catalog.write", _write_layer),
        (catalog.Catalog, "read", "catalog.read", "catalog"),
        (catalog.Catalog, "commit", "catalog.commit", "catalog"),
        (catalog.Catalog, "committed", "catalog.committed", "catalog"),
        (pipeline, "partition_metrics", "lineage.partition_metrics",
         "plans.lineage"),
        (pipeline, "salted_repartition", "points.salted_repartition",
         "plans.points"),
        (chunks, "compress_chunks", "chunks.compress_chunks",
         "plans.chunks"),
        (ingest, "read_tier_snapshot", "ingest.read_tier_snapshot",
         "streaming.ingest"),
    ]
    for fname in ("rollup_from_tokens", "rollup_tier_up", "apply_retention",
                  "rollup_state", "merge_tier_states", "finalize_state",
                  "serve_range"):
        targets.append((rollup, fname, f"rollup.{fname}", "plans.rollup"))
    saved = []
    for owner, attr, name, layer in targets:
        orig = owner.__dict__[attr]
        saved.append((owner, attr, orig))
        setattr(owner, attr, _wrap(tracer, orig, name, layer))

    def undo():
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)
    return undo


class _PlanningListener:
    """py4j implementation of Spark's QueryExecutionListener: sums the
    tracker's planning phases of every successful action."""

    def __init__(self):
        self.planning_ms = 0.0

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            self.planning_ms += it.next()._2().durationMs()

    def onFailure(self, func_name, qe, exc):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _rss_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


class SparkCounters:
    """Reads Spark's counters from outside the program, per operation."""

    def __init__(self, spark):
        from pyspark import SparkContext
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._cg = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
            .CodeGenerator
        self._cg_hist = jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._listener = _PlanningListener()
        ensure_callback_server_started(SparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self._listener)
        self._jvm_pid = SparkContext._gateway.proc.pid
        self._last_exec = self._max_exec_id()
        self.jvm_rss_peak_kb = 0
        self.py_rss_peak_kb = 0
        self._seq = 0

    def _max_exec_id(self) -> int:
        ex = self._store.executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())),
                   default=-1)

    def codegen(self) -> tuple[int, float]:
        """(classes compiled, compile milliseconds) since JVM start."""
        return self._cg_hist.getCount(), self._cg.compileTime() / 1e6

    @contextmanager
    def operation(self, out: dict):
        """Counters for one operation: fills `out` when the block ends."""
        self._seq += 1
        group = f"perfbench-{self._seq}"
        self.sc.setJobGroup(group, group)
        cls0, cg0 = self.codegen()
        plan0 = self._listener.planning_ms
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._bus.waitUntilEmpty()
            cls1, cg1 = self.codegen()
            out["codegen_classes"] = cls1 - cls0
            out["codegen_ms"] = cg1 - cg0
            out["planning_ms"] = self._listener.planning_ms - plan0
            out["executions"] = self._executions()
            for k in SQL_METRICS:
                out[k] = sum(e[k] for e in out["executions"])
            out.update(self._jobs(group))
            self._sample_rss()

    def _executions(self) -> list[dict]:
        """SQL executions finished since the last call: epoch start/end
        seconds and the SQL_METRICS totals of each."""
        by_name = {n: k for k, names in SQL_METRICS.items() for n in names}
        ex = self._store.executionsList()
        out = []
        for i in range(ex.size()):
            e = ex.apply(i)
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            done = e.completionTime()
            rec = {k: 0.0 for k in SQL_METRICS}
            rec.update(id=eid, t0=e.submissionTime() / 1e3,
                       t1=(done.get().getTime() / 1e3 if done.isDefined()
                           else time.time()))
            vals = self._store.executionMetrics(eid)
            ms = e.metrics()
            seen = set()  # adaptive re-plans list an accumulator again
            for j in range(ms.size()):
                m = ms.apply(j)
                key = by_name.get(m.name())
                if key is None or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                v = vals.get(m.accumulatorId())
                if v.isDefined():
                    rec[key] += parse_metric(v.get())
            out.append(rec)
        if out:
            self._last_exec = max(r["id"] for r in out)
        return out

    def _jobs(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        return {"jobs": len(jobs), "tasks": tasks}

    def _sample_rss(self) -> None:
        self.jvm_rss_peak_kb = max(self.jvm_rss_peak_kb,
                                   _rss_kb(self._jvm_pid, "VmHWM:"))
        py = sum(_rss_kb(p, "VmRSS:") for p in _descendants(self._jvm_pid))
        self.py_rss_peak_kb = max(self.py_rss_peak_kb, py)

