"""Spans and layer metrics, measured from outside the program.

The benchmark records its own spans (pass -> operation -> build/action)
in memory. After a traced pass it reads Spark's status store: jobs and
stages become child spans of the operation whose interval holds their
submission time. Attribution is by time, not job group, because
``util.run_concurrent`` threads do not inherit Spark's thread-local
properties. One client runs at a time, so the operation whose interval
holds a job's submission is the one that issued it.
"""

from __future__ import annotations

import itertools
import json
import os
import time

_PY_NODE_WORDS = ("Python", "Pandas", "Arrow")
_NOT_PY = ("ArrowToColumnar", "ColumnarToRow", "RowToColumnar")


def now_ms() -> float:
    return time.time() * 1000.0


class Span:
    __slots__ = ("id", "op", "name", "parent", "start", "end", "attrs")

    def __init__(self, sid, op, name, parent, start, end=None, attrs=None):
        self.id, self.op, self.name, self.parent = sid, op, name, parent
        self.start, self.end = start, end
        self.attrs = attrs or {}

    @property
    def dur_ms(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "op": self.op, "name": self.name,
                "parent": self.parent, "start_ms": round(self.start, 3),
                "end_ms": round(self.end, 3), **self.attrs}


class Tracer:
    """In-memory span recorder. Disabled, it records nothing and costs
    one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        # seconds spent opening and closing spans: what tracing adds to
        # the operations it wraps
        self.cost_s = 0.0

    def begin(self, name: str, **attrs):
        """Open a span under the innermost open one. A span with a
        ``kind`` attribute is an operation: it and everything under it
        share its id as their ``op``."""
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        op = sid if parent is None or "kind" in attrs else parent.op
        s = Span(sid, op, name, parent.id if parent else None, now_ms(),
                 attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.cost_s += time.perf_counter() - t0
        return s

    def end(self, s: Span | None, **attrs) -> None:
        if s is None:
            return
        t0 = time.perf_counter()
        s.end = now_ms()
        s.attrs.update(attrs)
        popped = self._stack.pop()
        assert popped is s, "spans must nest"
        self.cost_s += time.perf_counter() - t0

    def child(self, parent: Span, name: str, start: float, end: float,
              **attrs) -> Span:
        s = Span(next(self._ids), parent.op, name, parent.id, start, end,
                 attrs)
        self.spans.append(s)
        return s

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as JSON lines."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s.as_dict(),
                                    "self_ms": round(self_ms(self, s), 3)})
                        + "\n")


def union_ms(intervals) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(tracer: Tracer, s: Span) -> float:
    """A span's duration minus the part its children cover."""
    kids = [(max(c.start, s.start), min(c.end, s.end))
            for c in tracer.children(s)]
    return s.dur_ms - union_ms([k for k in kids if k[1] > k[0]])


# -------------------------------------------------------------------- #
# Spark status store
# -------------------------------------------------------------------- #

def _opt_ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


class SparkStore:
    """Reads jobs, stages and SQL executions from the driver's status
    stores (the data behind the web UI, which stays disabled)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = spark._jvm

    def drain(self) -> None:
        # the stores are fed by the asynchronous listener bus
        self.jsc.listenerBus().waitUntilEmpty(10_000)

    def jobs(self, min_id: int) -> list[dict]:
        out = []
        it = self.jsc.statusStore().jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            if jid < min_id:
                continue
            sub, end = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if sub is None or end is None:
                continue
            out.append({"id": jid, "start": float(sub), "end": float(end),
                        "stages": [int(x) for x in _seq(j.stageIds())],
                        "tasks": j.numTasks(), "failed": j.numFailedTasks()})
        return out

    def max_job_id(self) -> int:
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def stages(self, ids: set[int]) -> dict[int, dict]:
        jvm = self.jvm
        lst = self.jsc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        out: dict[int, dict] = {}
        it = lst.iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid not in ids:
                continue
            d = out.setdefault(sid, {
                "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "sh_w": 0, "sh_r": 0,
                "fetch_ms": 0, "spill": 0, "tasks": 0})
            d["run_ms"] += s.executorRunTime()
            d["cpu_ns"] += s.executorCpuTime()
            d["gc_ms"] += s.jvmGcTime()
            d["sh_w"] += s.shuffleWriteBytes()
            d["sh_r"] += s.shuffleReadBytes()
            d["fetch_ms"] += s.shuffleFetchWaitTime()
            d["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            d["tasks"] += s.numTasks()
        return out

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def sql_executions(self, min_id: int) -> list[dict]:
        """SQL executions with id >= min_id: submission time, the
        formatted metrics of Python exec nodes (plus "rows sent", the
        output rows of the nodes feeding them) and files read by scans."""
        store = self._sql_store()
        out = []
        it = store.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            eid = e.executionId()
            if eid < min_id:
                continue
            graph = store.planGraph(eid)
            nodes = {n.id(): n for n in _seq(graph.allNodes())}
            kids: dict[int, list[int]] = {}
            for edge in _seq(graph.edges()):
                kids.setdefault(edge.toId(), []).append(edge.fromId())
            values = store.executionMetrics(eid)

            def val(acc):
                o = values.get(acc)
                if hasattr(o, "isDefined"):
                    return o.get() if o.isDefined() else None
                return o

            def rows_out(nid, depth=0):
                n = nodes.get(nid)
                if n is None or depth > 8:
                    return None
                for m in _seq(n.metrics()):
                    if m.name() == "number of output rows":
                        return val(m.accumulatorId())
                got = [rows_out(k, depth + 1) for k in kids.get(nid, [])]
                got = [g for g in got if g is not None]
                return str(sum(float(str(g).replace(",", "")) for g in got)) \
                    if got else None

            py, files = [], 0
            for nid, n in nodes.items():
                name = n.name()
                if any(w in name for w in _PY_NODE_WORDS) and \
                        not name.startswith(_NOT_PY):
                    for m in _seq(n.metrics()):
                        v = val(m.accumulatorId())
                        if v is not None:
                            py.append((m.name(), v))
                    for k in kids.get(nid, []):
                        r = rows_out(k)
                        if r is not None:
                            py.append(("rows sent", r))
                elif name.startswith("Scan"):
                    for m in _seq(n.metrics()):
                        if m.name() == "number of files read":
                            v = val(m.accumulatorId())
                            try:
                                files += int(str(v).replace(",", ""))
                            except (TypeError, ValueError):
                                pass
            out.append({"id": eid, "start": float(e.submissionTime()),
                        "py_metrics": py, "files_read": files})
        return out

    def max_execution_id(self) -> int:
        store = self._sql_store()
        n = store.executionsCount()
        if n == 0:
            return -1
        return store.executionsList(int(n) - 1, 1).apply(0).executionId()

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()


def plan_ms(df) -> float:
    """Analysis + optimization + planning time of an executed
    DataFrame, from its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total += p.get().durationMs()
    return total


def proc_tree_rss_mb(root_pids: list[int]) -> float:
    """Sum of peak RSS (VmHWM) over the given processes and all their
    descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    seen, todo, kb = set(), list(root_pids), 0
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen.add(p)
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0
