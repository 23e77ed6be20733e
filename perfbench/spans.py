"""Tracing from outside the package: spans around layer entry points
and exact per-operation counters.

Spans are recorded by replacing module (or class) attributes with
timing wrappers; the package itself is not modified. A wrapper is a
plain pass-through while tracing is off, so traced and untraced
operations can alternate in one run and the difference between them
is the tracing overhead."""

from __future__ import annotations

import gc
import threading
import time
from dataclasses import dataclass, field

# (module, attribute, span name). Where a module imported a function by
# name, the importing module's attribute is the one its callers resolve.
TARGETS = [
    ("hbase_rdf_spark.pipeline", "build_links", "operators.link"),
    ("hbase_rdf_spark.streaming.incremental", "build_links", "operators.link"),
    ("hbase_rdf_spark.operators.materialize", "TripleStore.write_indexes",
     "operators.write_indexes"),
    ("hbase_rdf_spark.operators.materialize", "TripleStore.write_dictionaries",
     "operators.write_dictionaries"),
    # LOAD's validation scan: one pass of the line regex over the document
    ("hbase_rdf_spark.sources.ntriples", "corrupt_count", "sources.scan"),
    ("hbase_rdf_spark.engine", "append_batch", "streaming.append_batch"),
    ("hbase_rdf_spark.plans.sparql", "parse", "plans.parse"),
    ("hbase_rdf_spark.plans.sparql", "execute", "plans.plan"),
    ("hbase_rdf_spark.plans.update", "execute_update", "plans.update"),
    ("hbase_rdf_spark.service", "results_json", "plans.exec"),
    ("hbase_rdf_spark.service", "results_ntriples", "plans.exec"),
    ("hbase_rdf_spark.service", "SparqlService._handle", "service.handle"),
]


@dataclass
class Span:
    name: str
    t0: float
    t1: float

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


@dataclass
class OpTrace:
    spans: list[Span] = field(default_factory=list)
    py4j_calls: int = 0
    spark_jobs: int = 0
    spark_tasks: int = 0

    def total_ms(self, name: str) -> float:
        return sum(s.ms for s in self.spans if s.name == name)


class Tracer:
    """Installs the wrappers once; ``begin()`` and ``end()`` bracket one
    traced operation."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.on = False
        self._lock = threading.Lock()
        self._cur: OpTrace | None = None
        self._group: str | None = None
        self._ungrouped: set[int] = set()
        self._n = 0
        for mod, attr, name in TARGETS:
            self._wrap(mod, attr, name)
        self._count_py4j()

    # -- wrappers ----------------------------------------------------------
    def _wrap(self, mod: str, attr: str, name: str) -> None:
        import importlib

        owner = importlib.import_module(mod)
        if "." in attr:
            cls, attr = attr.split(".")
            owner = getattr(owner, cls)
        orig = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            if not tracer.on:
                return orig(*a, **kw)
            if name == "service.handle":  # request thread: tag its Spark jobs
                tracer.spark.sparkContext.setJobGroup(tracer._group, name)
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                t1 = time.perf_counter()
                with tracer._lock:
                    if tracer._cur is not None:
                        tracer._cur.spans.append(Span(name, t0, t1))

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)

    def _count_py4j(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command, *a, **kw):
            # "m\n" commands release Java objects when Python garbage
            # collects their proxies; their number depends on GC timing
            if tracer.on and not command.startswith("m\n"):
                with tracer._lock:
                    if tracer._cur is not None:
                        tracer._cur.py4j_calls += 1
            return orig(conn, command, *a, **kw)

        ClientServerConnection.send_command = send_command

    # -- one operation -----------------------------------------------------
    def begin(self) -> OpTrace:
        gc.collect()
        sc = self.spark.sparkContext
        self._n += 1
        self._group = f"perfbench-op{self._n}"
        self._ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
        sc.setJobGroup(self._group, self._group)
        self._cur = OpTrace()
        self.on = True
        return self._cur

    def end(self) -> OpTrace:
        self.on = False
        cur, self._cur = self._cur, None
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        jobs = set(st.getJobIdsForGroup(self._group))
        jobs |= set(st.getJobIdsForGroup(None)) - self._ungrouped
        cur.spark_jobs = len(jobs)
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                stage = st.getStageInfo(sid)
                if stage is not None:
                    cur.spark_tasks += stage.numTasks
        sc.setLocalProperty("spark.jobGroup.id", None)
        return cur
