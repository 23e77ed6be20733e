"""The benchmark's workloads. Each is a closed loop with one client.

A workload function sets up (session, inputs, warm-up) and then runs
operations until the measured phase has lasted ``seconds``. Every
operation is checked; a wrong result counts as a failed operation."""

from __future__ import annotations

import os
import shutil
import time
import urllib.parse
import urllib.request
from dataclasses import dataclass, field

import hostenv
import inputs
import oracle
from spans import OpTrace, Tracer

BUILD_CONVS = 600  # transcripts per build (≈8,000 resolved triples)
MIN_BUILDS = 2  # measured builds per run, however short the phase
MIXED_BASE_CONVS = 60  # conversations in the mixed workload's prebuilt store
APPEND_CONVS = 8  # conversations per append slice
READS_PER_WRITE = 1  # template reads after each write's check read
WRITE_KINDS = ("append", "load", "delete")  # one round, in this order
WARM_WRITES = ("append", "load")  # one append and one update
PR_MIN = 0.95  # precision and recall against the pure-Python oracle


@dataclass
class Op:
    kind: str  # "build", "read" or "write"
    name: str  # template or write kind
    ms: float
    units: int  # resolved triples (build), 1 otherwise
    ok: bool
    trace: OpTrace | None = None


@dataclass
class Run:
    """What a workload hands back to the reporter."""

    setup_s: float = 0.0
    ops: list[Op] = field(default_factory=list)
    measured_s: float = 0.0
    store_root: str = ""
    store_bytes: int = 0
    store_quads: int = 0
    files_per_index: float = 0.0
    setup_checks: int = 0  # checks made in set-up; each failure is a problem
    setup_problems: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)  # layer facts outside the ops
    unit_kinds: tuple = ("read", "write")  # op kinds counted in throughput
    setup_split: dict = field(default_factory=dict)  # set-up part → seconds

    def lap(self, part: str, t0: float) -> float:
        """Record set-up part ``part`` as ending now; → now."""
        now = time.perf_counter()
        self.setup_split[part] = now - t0
        return now


class Context:
    def __init__(self, spark, work: str, seed: int, seconds: float,
                 tracer: Tracer | None, corrupt: bool) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.seconds, self.tracer, self.corrupt = seconds, tracer, corrupt
        self.overhead: list[float] = []  # traced/untraced - 1, per read pair
        self.host: hostenv.HostMeter | None = None

    def begin_phase(self) -> float:
        """Start of the measured phase: host counters start here."""
        self.host = hostenv.HostMeter()
        return time.perf_counter()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @property
    def tracing(self) -> bool:
        return self.tracer is not None

    def timed(self, fn, trace: bool):
        """Run ``fn`` once → (result, ms, OpTrace or None)."""
        if trace:
            self.tracer.begin()
        else:
            import gc

            gc.collect()
        t0 = time.perf_counter()
        try:
            res = fn()
        finally:
            ms = (time.perf_counter() - t0) * 1e3
            tr = self.tracer.end() if trace else None
        return res, ms, tr

    def expect(self, value):
        """The value a check compares against; ``--self-test`` corrupts it."""
        if not self.corrupt:
            return value
        if isinstance(value, (int, float)):
            return value + 1
        if isinstance(value, str):
            return value + "x"
        if isinstance(value, set):
            return value | {("corrupted", "expectation")}
        return list(value) + [("corrupted expectation",)]


def _gazetteer(spark):
    from hbase_rdf_spark.sources.synthetic import build_gazetteer

    return spark.createDataFrame(
        build_gazetteer(), "alias string, entity_id string, kind string"
    ).select("alias", "entity_id")


def _http(port: int, query: str, form: str) -> bytes:
    accept = ("application/n-triples" if form == "construct"
              else "application/sparql-results+json")
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/sparql?query=" + urllib.parse.quote(query),
        headers={"Accept": accept})
    with urllib.request.urlopen(req, timeout=120) as r:
        return r.read()


def _read(ctx: Context, port: int, view: oracle.StoreView, name: str,
          q: tuple[str, str, str]) -> Op:
    """One SPARQL read over HTTP, checked against DuckDB (untimed).

    A traced run also sends each read untraced, alternating which goes
    first; the pair's ratio is the tracing overhead."""
    sparql, sql, form = q

    def fetch(trace: bool):
        return ctx.timed(lambda: _http(port, sparql, form), trace)

    try:
        if ctx.tracing:
            order = (False, True) if len(ctx.overhead) % 2 else (True, False)
            pair = {t: fetch(t) for t in order}
            body, ms, tr = pair[True]
            ctx.overhead.append(ms / pair[False][1] - 1.0)
        else:
            body, ms, tr = fetch(False)
        got = oracle.service_rows(form, body)
        ok = got == ctx.expect(oracle.duck_rows(form, view.rows(sql)))
    except Exception as ex:  # a failed request is a failed operation
        print(f"# read {name} failed: {type(ex).__name__}: {ex}")
        return Op("read", name, 0.0, 1, False)
    if not ok:
        print(f"# read {name} returned a wrong result: {sparql}")
    return Op("read", name, ms, 1, ok, tr)


def _prf(store: oracle.StoreView, pdf) -> tuple[float, float]:
    """Precision/recall of the stored triples against the oracle."""
    import pandas as pd

    from hbase_rdf_spark.functions.oracle import (
        emit_reference_triples,
        precision_recall,
    )

    ref = emit_reference_triples(pdf)
    ref = pd.DataFrame({
        "subj": ref["subj"], "pred": ref["pred"],
        "obj": [oracle.norm_value(o) if k == 2 else o
                for o, k in zip(ref["obj"], ref["obj_kind"])],
    })
    rows = store.rows("SELECT s, p, coalesce(o, CAST(onum AS VARCHAR)) FROM q")
    got = pd.DataFrame(
        [(s, p, oracle.norm_value(o)) for s, p, o in rows],
        columns=["subj", "pred", "obj"])
    return precision_recall(got, ref)


# -- build -------------------------------------------------------------------

def build(ctx: Context) -> Run:
    """Repeated ``build_kg`` over one seeded transcript parquet, each into
    a fresh store root. Each build is followed by a read of the
    per-predicate counts through the SPARQL endpoint over the new store."""
    from hbase_rdf_spark import pipeline

    run, spark = Run(unit_kinds=("build",)), ctx.spark
    t_setup = time.perf_counter()
    tx_path = ctx.path("transcripts.parquet")
    pdf = inputs.write_transcripts(tx_path, BUILD_CONVS, ctx.seed)
    tx, gaz = spark.read.parquet(tx_path), _gazetteer(spark)
    t = run.lap("inputs", t_setup)

    def one_build(i: int) -> tuple[str, dict]:
        root = ctx.path(f"store{i}")
        shutil.rmtree(root, ignore_errors=True)
        return root, pipeline.build_kg(spark, tx, gaz, root,
                                       input_sig=f"perfbench:{ctx.seed}:{i}")

    # warm-up: one full build (cold JIT/codegen), checked against the
    # oracle, and one read of it
    (root, ref), _, _ = ctx.timed(lambda: one_build(0), False)
    t = run.lap("warm_build", t)
    view = oracle.StoreView(root)
    prec, rec = _prf(view, pdf)
    run.setup_checks += 2
    if min(prec, rec) < PR_MIN:
        run.setup_problems.append(f"P/R {prec:.3f}/{rec:.3f} below {PR_MIN}")
    ref_digest = view.digest()
    run.info.update(build_precision=prec, build_recall=rec,
                    link_methods=ref["links"])
    if not _store_read(ctx, root, view).ok:
        run.setup_problems.append("warm-up read of the built store failed")
    view.close()
    shutil.rmtree(root, ignore_errors=True)
    ctx.overhead.clear()
    run.lap("checks_and_warm_read", t)
    run.setup_s = time.perf_counter() - t_setup

    t_phase, i = ctx.begin_phase(), 0
    while i < MIN_BUILDS or time.perf_counter() - t_phase < ctx.seconds:
        i += 1
        run.ops += _build_op(ctx, run, lambda: one_build(i), ref, ref_digest)
    run.measured_s = time.perf_counter() - t_phase
    ctx.host.stop()
    _finish_store(run)
    return run


def _store_read(ctx: Context, root: str, view: oracle.StoreView) -> Op:
    """Per-predicate counts of the store at ``root``, through a new
    engine and endpoint, checked against DuckDB."""
    from hbase_rdf_spark.engine import KgEngine
    from hbase_rdf_spark.service import SparqlService

    svc = SparqlService(KgEngine(ctx.spark, root), port=0)
    svc.start()
    try:
        op = _read(ctx, svc.port, view, "predicates", inputs.PREDICATE_COUNTS)
    finally:
        svc.stop()
    return op


def _build_op(ctx: Context, run: Run, fn, ref: dict, ref_digest: str) -> list[Op]:
    """One build, checked against the warm-up build, then its read."""
    try:
        (root, stats), ms, tr = ctx.timed(fn, ctx.tracing)
    except Exception as ex:
        print(f"# build failed: {type(ex).__name__}: {ex}")
        return [Op("build", "build_kg", 0.0, 0, False)]
    view = oracle.StoreView(root)
    try:
        ok = (stats["resolved_triples"] == ctx.expect(ref["resolved_triples"])
              and view.digest() == ctx.expect(ref_digest))
        if not ok:
            print("# build differs from the warm-up build")
        check = _store_read(ctx, root, view)
    finally:
        view.close()
    run.info.setdefault("build_timings", []).append(stats["timings"])
    if run.store_root:
        shutil.rmtree(run.store_root, ignore_errors=True)
    run.store_root = root
    return [Op("build", "build_kg", ms, stats["resolved_triples"], ok, tr), check]


def _finish_store(run: Run) -> None:
    root = run.store_root
    run.store_bytes = oracle.store_bytes(root)
    view = oracle.StoreView(root)
    run.store_quads = view.quads()
    view.close()
    run.files_per_index = oracle.files_per_index(root)


# -- mixed -------------------------------------------------------------------

class _Mixed:
    """State of the mixed workload: one store, one endpoint, one client."""

    def __init__(self, ctx: Context, run: Run) -> None:
        from hbase_rdf_spark import pipeline
        from hbase_rdf_spark.engine import KgEngine
        from hbase_rdf_spark.service import SparqlService

        self.ctx, self.run = ctx, run
        spark, t = ctx.spark, time.perf_counter()
        self.vocab = inputs.Vocabulary(ctx.seed)
        base = ctx.path("base.parquet")
        inputs.write_transcripts(base, MIXED_BASE_CONVS, ctx.seed)
        self.gaz = _gazetteer(spark)
        self.root = ctx.path("store")
        t = run.lap("inputs", t)
        stats = pipeline.build_kg(spark, spark.read.parquet(base), self.gaz,
                                  self.root, input_sig=f"perfbench:{ctx.seed}")
        t = run.lap("prebuild", t)
        run.info.update(prebuild_timings=stats["timings"],
                        link_methods=stats["links"])
        self.engine = KgEngine(spark, self.root)
        self.svc = SparqlService(self.engine, port=0)
        self.svc.start()
        self.view = oracle.StoreView(self.root)
        self.quads = self.view.quads()
        run.lap("endpoint", t)
        self.sent = dict.fromkeys(WRITE_KINDS, 0)  # writes sent, by kind
        self.t = 0  # template reads sent

    def doc_vocab(self, r: int) -> inputs.Vocabulary:
        return inputs.Vocabulary(self.ctx.seed * 1_000_003 + r)

    def close(self) -> None:
        self.svc.stop()
        self.view.close()

    def write(self, kind: str) -> list[Op]:
        """One write, then the read that must see it."""
        ctx = self.ctx
        r = self.sent[kind]  # the n-th append takes slice n, LOAD doc n
        self.sent[kind] += 1
        if kind == "append":
            path = ctx.path(f"slice{r}.parquet")
            inputs.write_transcripts(path, APPEND_CONVS, ctx.seed,
                                     conv_offset=MIXED_BASE_CONVS + r * APPEND_CONVS)
            sdf = ctx.spark.read.parquet(path)
            fn, expected = (lambda: self.engine.append(sdf, self.gaz)), None
        elif kind == "load":
            text, expected, _ = inputs.nquads_doc(r, self.doc_vocab(r))
            path = ctx.path(f"doc{r}.nq")
            with open(path, "w") as f:
                f.write(text)
            fn = lambda: self.engine.update(f"LOAD <file://{path}>")  # noqa: E731
        else:  # removes the named-graph half of the latest document
            r = self.sent["load"] - 1
            _, _, in_graph = inputs.nquads_doc(r, self.doc_vocab(r))
            text, expected = inputs.delete_graph(r), -in_graph
            fn = lambda: self.engine.update(text)  # noqa: E731
        try:
            res, ms, tr = ctx.timed(fn, ctx.tracing)
        except Exception as ex:
            print(f"# write {kind} failed: {type(ex).__name__}: {ex}")
            return [Op("write", kind, 0.0, 1, False)]
        delta = (res["appended_quads"] if kind == "append"
                 else res["inserted"] - res["deleted"])
        on_disk = self.view.quads()
        ok = (ctx.expect(on_disk - self.quads) == delta
              and (expected is None or delta == expected))
        if not ok:
            print(f"# write {kind}: reported {delta}, expected {expected}, "
                  f"store changed by {on_disk - self.quads}")
        self.quads = on_disk
        if kind == "append":
            self.run.info.setdefault("appended_quads", []).append(delta)
        ops = [Op("write", kind, ms, 1, ok, tr)]
        # read-your-writes: the endpoint's count must include the write
        sql = f"SELECT {self.quads}"
        ops.append(_read(ctx, self.svc.port, self.view, "count",
                         (inputs.COUNT_QUADS[0], sql, "select")))
        return ops

    def reads(self, n: int) -> list[Op]:
        names = list(inputs.TEMPLATES)
        out = []
        for _ in range(n):
            name = names[self.t % len(names)]
            self.t += 1
            out.append(_read(self.ctx, self.svc.port, self.view, name,
                             inputs.TEMPLATES[name](self.vocab)))
        return out


def mixed(ctx: Context) -> Run:
    """Reads from the template mix interleaved with writes in a fixed
    order: append, LOAD, DELETE WHERE. Each write is followed by a read
    that must see it, then by template reads."""
    run = Run()
    t_setup = time.perf_counter()
    m = _Mixed(ctx, run)
    try:
        # warm-up: one append and one update, each with its check read
        t = time.perf_counter()
        warm = [op for kind in WARM_WRITES for op in m.write(kind)]
        run.lap("warm_writes", t)
        run.setup_checks += len(warm)
        run.setup_problems += [f"warm-up {o.name} failed" for o in warm if not o.ok]
        ctx.overhead.clear()
        run.setup_s = time.perf_counter() - t_setup

        t_phase = ctx.begin_phase()
        while time.perf_counter() - t_phase < ctx.seconds:  # whole rounds
            for kind in WRITE_KINDS:
                run.ops += m.write(kind)
                run.ops += m.reads(READS_PER_WRITE)
        run.measured_s = time.perf_counter() - t_phase
        ctx.host.stop()
    finally:
        m.close()
    run.store_root = m.root
    _finish_store(run)
    return run


WORKLOADS = {"build": build, "mixed": mixed}
