"""Spans, counts and Spark status reads for the traced run.

Spans are recorded in memory by the benchmark's own wrappers around the
library's public layer functions, and written out once, when the run ends.
Every span belongs to a root span: ``query`` for a timed query, or a
``receipt.*`` root for the untimed runs made between or after queries. A span's self time is its duration minus the
time its child spans cover, so summing self time by layer name under the
``query`` roots splits the workload's query time with nothing counted twice.

Tracing is off in the runs that produce end-to-end metrics: there
:class:`NullTracer` stands in, no library function is wrapped and no Spark
status is read.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

ID, PARENT, ROOT, NAME, START, END, ATTRS = range(7)


class Tracer:
    enabled = True

    def __init__(self) -> None:
        #: [id, parent id, root id, name, start, end, attrs]
        self.spans: list[list] = []
        self._stack: list[int] = []
        #: Catalyst phase times (ms) per root name, per phase
        self.phases: defaultdict[str, defaultdict[str, list[float]]] = defaultdict(
            lambda: defaultdict(list))
        self._seen_executions: set[int] = set()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        root = self.spans[parent][ROOT] if parent is not None else sid
        rec = [sid, parent, root, name, time.perf_counter(), None, attrs]
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec[END] = time.perf_counter()
            self._stack.pop()

    def root_name(self) -> str | None:
        """Name of the root span now open, if any."""
        return self.spans[self._stack[0]][NAME] if self._stack else None

    def select(self, name: str, root: str) -> list[list]:
        """Finished spans called ``name`` under roots called ``root``."""
        return [
            s for s in self.spans
            if s[NAME] == name and s[END] is not None and self.spans[s[ROOT]][NAME] == root
        ]

    def self_times(self, root: str) -> dict[str, float]:
        """Seconds of self time per span name, under roots called ``root``."""
        child: defaultdict[int, float] = defaultdict(float)
        for s in self.spans:
            if s[PARENT] is not None and s[END] is not None:
                child[s[PARENT]] += s[END] - s[START]
        out: defaultdict[str, float] = defaultdict(float)
        for s in self.spans:
            if s[END] is not None and self.spans[s[ROOT]][NAME] == root:
                out[s[NAME]] += (s[END] - s[START]) - child[s[ID]]
        return dict(out)

    def record_phases(self, df) -> None:
        """Add one DataFrame's Catalyst phase times (its
        QueryPlanningTracker) under the open root; each QueryExecution is
        counted once."""
        qe = df._jdf.queryExecution()
        key = qe.hashCode()
        if key in self._seen_executions:
            return
        self._seen_executions.add(key)
        phases = qe.tracker().phases()
        into = self.phases[self.root_name() or "query"]
        for name in ("parsing", "analysis", "optimization", "planning"):
            opt = phases.get(name)
            if opt.isDefined():
                into[name].append(float(opt.get().durationMs()))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"fields": ["id", "parent", "root", "name", "start_s", "end_s", "attrs"],
                 "spans": self.spans},
                f,
            )


class NullTracer:
    enabled = False
    _null = contextlib.nullcontext()

    def span(self, name: str, **attrs):
        return self._null


def install(tracer: Tracer) -> None:
    """Wrap the adaptive tier's public layer functions so each call records
    a span. The library looks these names up in its module at call time,
    so wrapping the module attribute reaches every internal caller."""
    from skinnerdb_spark.plans import graph

    extract = graph.extract_query_graph
    chain = graph.build_graph_chain
    finish = graph.finish
    reorder = graph.adaptive_reorder

    def extract_query_graph(df):
        with tracer.span("graph.extract"):
            return extract(df)

    def build_graph_chain(g, order, leaves=None, progress=None):
        # a chain over sampled leaves is an exploration episode; the
        # unsampled one is the rebuild of the order that will execute
        name = "graph.rebuild" if leaves is None and progress is None else "graph.episode"
        with tracer.span(name):
            return chain(g, order, leaves, progress)

    def finish_(g, c):
        with tracer.span("graph.rebuild"):
            return finish(g, c)

    def adaptive_reorder(df, *a, **kw):
        # self time of this span (cache lookup, size estimates, sampled
        # episode executions) is the episode layer
        with tracer.span("graph.episode") as rec:
            res = reorder(df, *a, **kw)
            rec[ATTRS].update(
                eligible=bool(res.best_order),
                episodes=len(res.episodes),
                timeouts=sum(e.timed_out for e in res.episodes),
                prefix_hits=res.prefix_hits,
            )
        tracer.record_phases(df)
        return res

    graph.extract_query_graph = extract_query_graph
    graph.build_graph_chain = build_graph_chain
    graph.finish = finish_
    graph.adaptive_reorder = adaptive_reorder


def _stages(spark):
    """Spark's stage records, newest first, once the listener bus has
    delivered every event already posted."""
    sc = spark._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    gw = spark.sparkContext._gateway
    return sc.statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList())


def stage_cursor(spark) -> int:
    """Id of the newest stage so far (-1 before the first)."""
    stages = _stages(spark)
    return stages.apply(0).stageId() if stages.size() else -1


def task_ms_since(spark, cursor: int) -> float:
    """Executor run time (ms), summed over every task of the stages newer
    than ``cursor``. (The executor summary's ``totalDuration`` is not
    this: in local mode it grows with busy wall time, not per task.)"""
    stages = _stages(spark)
    total = 0
    for i in range(stages.size()):
        stage = stages.apply(i)
        if stage.stageId() <= cursor:
            break
        total += stage.executorRunTime()
    return float(total)


def storage(spark) -> tuple[int, int]:
    """(persisted RDDs, bytes they hold in memory and on disk)."""
    infos = spark._jsc.sc().getRDDStorageInfo()
    used = sum(int(infos[i].memSize()) + int(infos[i].diskSize()) for i in range(len(infos)))
    return int(spark.sparkContext._jsc.getPersistentRDDs().size()), used


def jvm_rss_peak_mb(spark) -> float:
    """Peak resident set size of the Spark JVM (VmHWM), MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError("no VmHWM line")
