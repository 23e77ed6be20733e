"""SPARQL 1.1 Update (W3C §3) over the TripleStore.

The reference is a Sesame Sail + Fuseki front-end, so it inherits the
whole SPARQL Update surface from the framework: Sail
``addStatement``/``removeStatements`` (null context = wildcard) backed
by the incremental loader's per-statement dictionary inserts + index
Puts (reference: loader/HBaseLoader.java:82-231). The Spark-native
rebuild maps each update form onto set algebra over the three sorted
index tables:

- ``INSERT DATA`` / ``INSERT {} WHERE {}`` → the idempotent anti-join
  append of the incremental loader (streaming/incremental.py
  ``append_resolved``): only NEW dictionary terms and NEW quads touch
  disk; re-running an insert is a no-op because ids are content hashes.
- ``DELETE DATA`` / ``DELETE WHERE`` / ``DELETE {} WHERE {}`` → encode
  the delete set to id-space quads (pure computation — hash ids need no
  dictionary lookup), null-safe ``left_anti`` against each index, and
  rewrite. On Iceberg this is a merge-on-read delete-file commit; on
  the parquet layout it is a copy-on-write rewrite — the same
  trade-off Iceberg's two delete modes expose.
- ``DELETE {} INSERT {} WHERE {}`` evaluates the WHERE once, keeps the
  binding set on the PRE-state (localCheckpoint before any write), and
  applies deletes before inserts (SPARQL 1.1 Update §3.1.3).
- ``CLEAR`` / ``DROP`` → context-predicate rewrite (GRAPH/DEFAULT/
  NAMED) or empty overwrite (ALL); the two forms coincide because the
  layout has no empty-graph registry (§3.2.2 sanctions this).
- ``ADD``/``COPY``/``MOVE`` → context-column algebra over SPO: the
  moved rows keep their content-hash ids (only ``c`` changes), so no
  dictionary pass is needed; ADD is an idempotent delta append,
  COPY/MOVE single-delta rewrites.
- ``LOAD`` → the S1 N-Triples parser over the document + the same
  idempotent append; ``INTO GRAPH`` re-contexts every row (§3.1.4).
- ``USING`` / ``USING NAMED`` → the FROM / FROM NAMED dataset
  machinery threaded into the WHERE parse (merge semantics, GRAPH
  restriction) — USING overrides WITH for the WHERE only (§3.1.3.3).
- ``CREATE`` → parsed no-op (no empty-graph registry, like the
  reference's HBase tables which materialize only stored rows).

Template instantiation is the CONSTRUCT engine (plans/sparql.py
``_construct``): one projection per template pattern over the binding
set, distinct — so update templates get blank-node freshness, OPTIONAL
null-dropping, and kind sidecars for free, all distributed.

Graph slots follow Sail semantics (the reference's
``removeStatements(s, p, o)`` with no context removes the statement
from EVERY context): a DELETE template/data row without GRAPH matches
any graph, while an INSERT row without GRAPH lands in the default
context (sources/ntriples.py DEFAULT_CONTEXT — the QuadBreakDown.java:43
rule). Blank-node labels in ground INSERT DATA are store-scoped (same
as the bulk N-Quads path), matching the content-hash id design: re-
inserting the same data is a no-op rather than minting fresh nodes.

The dictionary is monotonic — deletes never garbage-collect terms
(neither does the reference's String2Id table). The provenance table
is bulk-load lineage and is not rewritten by updates.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, functions as F

from hbase_rdf_spark.functions.encoding import (
    KIND_ENTITY,
    KIND_NUMERIC,
    KIND_STRING,
    encode_quads,
)
from hbase_rdf_spark.operators.materialize import QUAD_COLS
from hbase_rdf_spark.plans.bgp import Bgp, Path, is_var
from hbase_rdf_spark.plans.sparql import (
    Query,
    SparqlSyntaxError,
    _construct,
    _group_bindings,
    _Parser,
    _plain_triples,
    tokenize,
)
from hbase_rdf_spark.sources.ntriples import DEFAULT_CONTEXT

__all__ = ["parse_update", "execute_update"]


# ---------------------------------------------------------------------------
# operation algebra
# ---------------------------------------------------------------------------

@dataclass
class DataOp:
    """INSERT DATA / DELETE DATA: ground quads, no WHERE evaluation."""

    insert: bool
    patterns: list = field(default_factory=list)  # ground Bgp rows


@dataclass
class ModifyOp:
    """DELETE/INSERT … WHERE (and the DELETE WHERE shorthand)."""

    delete_tmpl: list | None
    insert_tmpl: list | None
    where: Query


@dataclass
class GraphOp:
    """ADD / COPY / MOVE src TO dst (SPARQL 1.1 Update §3.2.5-3.2.7).

    ``src``/``dst`` are ``"DEFAULT"`` or a constant graph IRI. On this
    layout all three are context-column algebra over the SPO table:
    ADD appends the re-contexted src rows (dedup anti-join), COPY/MOVE
    rewrite with the dst graph replaced (and, for MOVE, src removed).
    """

    kind: str  # "ADD" | "COPY" | "MOVE"
    src: str
    dst: str


@dataclass
class LoadOp:
    """LOAD <document> (INTO GRAPH g)? (SPARQL 1.1 Update §3.1.4).

    The document is any spark-readable N-Triples/N-Quads text path;
    rows run through the S1 parser + the idempotent incremental append
    (the same path bulk files take). SILENT swallows read errors.
    """

    source: str
    graph: str | None
    silent: bool


@dataclass
class ClearOp:
    """CLEAR GRAPH <g> | DEFAULT | NAMED | ALL."""

    target: object  # "DEFAULT" | "NAMED" | "ALL" | graph IRI str


# ---------------------------------------------------------------------------
# parsing — a thin subclass of the query parser: terms, groups, GRAPH
# threading, and prefix expansion are all inherited
# ---------------------------------------------------------------------------

class _UpdateParser(_Parser):
    def parse_update(self) -> list:
        ops: list = []
        while True:
            # shared prologue: BASE + PREFIX in any order (update
            # requests carry the same grammar-[4] prologue as queries)
            self._prologue()
            tok = self.peek()
            if tok is None:
                break
            head = tok.upper()
            if head in ("CLEAR", "DROP"):
                # DROP ≡ CLEAR on this layout: graphs exist iff they
                # hold quads (no empty-graph registry), the exact case
                # SPARQL 1.1 Update §3.2.2 calls out as equivalent
                ops.append(self._clear(head))
            elif head in ("INSERT", "DELETE", "WITH"):
                ops.append(self._insert_delete())
            elif head in ("ADD", "COPY", "MOVE"):
                ops.append(self._graph_op(head))
            elif head == "CREATE":
                # no empty-graph registry → CREATE is a parsed no-op
                # (§3.2.1 allows stores "that record empty graphs" to
                # differ; this one doesn't, like the reference's HBase
                # tables which materialize only stored rows)
                self.expect("CREATE")
                self.kw("SILENT")
                self.expect("GRAPH")
                g = self.term()
                if not isinstance(g, str) or g.startswith("?"):
                    raise SparqlSyntaxError("CREATE GRAPH needs a constant IRI")
                ops.append(None)  # parsed, nothing to execute
            elif head == "LOAD":
                ops.append(self._load())
            else:
                raise SparqlSyntaxError(f"unsupported update form {tok!r}")
            if not self.kw(";"):
                break
        if self.peek() is not None:
            raise SparqlSyntaxError(f"trailing tokens at {self.peek()!r}")
        if not ops:
            raise SparqlSyntaxError("empty update request")
        return ops

    def _clear(self, head: str = "CLEAR") -> ClearOp:
        self.expect(head)
        self.kw("SILENT")  # accepted; this engine never errors on CLEAR
        if self.kw("GRAPH"):
            g = self.term()
            if not isinstance(g, str) or g.startswith("?"):
                raise SparqlSyntaxError(f"{head} GRAPH needs a constant IRI")
            return ClearOp(g)
        tok = self.next().upper()
        if tok not in ("DEFAULT", "NAMED", "ALL"):
            raise SparqlSyntaxError(f"{head} {tok} is not valid")
        return ClearOp(tok)

    def _graph_or_default(self) -> str:
        """GraphOrDefault ::= 'DEFAULT' | 'GRAPH'? iri (§3.2.5)."""
        if self.kw("DEFAULT"):
            return "DEFAULT"
        self.kw("GRAPH")
        g = self.term()
        if not isinstance(g, str) or g.startswith("?"):
            raise SparqlSyntaxError(
                "ADD/COPY/MOVE needs DEFAULT or a constant graph IRI"
            )
        return g

    def _graph_op(self, head: str) -> GraphOp:
        self.expect(head)
        self.kw("SILENT")
        src = self._graph_or_default()
        self.expect("TO")
        return GraphOp(head, src, self._graph_or_default())

    def _load(self) -> LoadOp:
        self.expect("LOAD")
        silent = self.kw("SILENT")
        src = self.term()
        if not isinstance(src, str) or src.startswith("?"):
            raise SparqlSyntaxError("LOAD needs a constant document IRI")
        graph = None
        if self.kw("INTO"):
            self.expect("GRAPH")
            graph = self.term()
            if not isinstance(graph, str) or graph.startswith("?"):
                raise SparqlSyntaxError("LOAD INTO GRAPH needs a constant IRI")
        return LoadOp(src, graph, silent)

    def _insert_delete(self):
        with_graph = None
        if self.kw("WITH"):
            g = self.term()
            if not isinstance(g, str) or g.startswith("?"):
                raise SparqlSyntaxError("WITH needs a constant IRI")
            with_graph = g
        if self.kw("INSERT"):
            if with_graph is None and self.kw("DATA"):
                return DataOp(True, self._ground_block())
            ins = self._template_block(with_graph)
            return self._where_op(None, ins, with_graph)
        self.expect("DELETE")
        if with_graph is None and self.kw("DATA"):
            return DataOp(False, self._ground_block())
        if self.kw("WHERE"):
            # DELETE WHERE { P }: the pattern IS the template (§3.1.3.2)
            q = self._where_query(with_graph, consume_where=False)
            self._check_delete_template(q.patterns, q)
            return ModifyOp(list(q.patterns), None, q)
        dels = self._template_block(with_graph)
        ins = self._template_block(with_graph) if self.kw("INSERT") else None
        op = self._where_op(dels, ins, with_graph)
        self._check_delete_template(op.delete_tmpl, op.where)
        return op

    def _where_op(self, dels, ins, with_graph) -> ModifyOp:
        q = self._where_query(with_graph, consume_where=True)
        return ModifyOp(dels, ins, q)

    def _where_query(self, with_graph, consume_where: bool) -> Query:
        # USING / USING NAMED (§3.1.3.3): the WHERE-side dataset clause
        # — identical semantics to FROM / FROM NAMED, reusing the same
        # threaded default-graph-merge machinery. USING overrides WITH
        # for the WHERE (WITH keeps scoping the templates).
        defaults: list[str] = []
        named: list[str] = []
        while self.kw("USING"):
            is_named = self.kw("NAMED")
            g = self.term()
            if not isinstance(g, str) or g.startswith("?"):
                raise SparqlSyntaxError("USING needs a constant graph IRI")
            (named if is_named else defaults).append(g)
        if consume_where:
            self.expect("WHERE")
        q = Query(variables=[])
        if defaults or named:
            scope: tuple | None = tuple(defaults)
            q.dataset = (tuple(defaults), tuple(named))
        else:
            scope = (with_graph,) if with_graph else None
        saved = self._dataset
        self._dataset = q.dataset
        try:
            self.expect("{")
            self._group(q, scope)
            self.expect("}")
        finally:
            self._dataset = saved
        return q

    def _template_block(self, with_graph) -> list[Bgp]:
        """``{ triples / GRAPH g { triples } }`` → Bgp list (vars OK)."""
        tmp = self._braced((with_graph,) if with_graph else None)
        if not _plain_triples(tmp):
            raise SparqlSyntaxError(
                "update templates allow only triples and GRAPH blocks"
            )
        for p in tmp.patterns:
            if isinstance(p.p, Path):
                raise SparqlSyntaxError(
                    "property paths are not valid in update templates"
                )
            if is_var(p.g):
                raise SparqlSyntaxError(
                    "GRAPH ?var is not supported in update templates — "
                    "use a constant graph or split the operation"
                )
        return list(tmp.patterns)

    def _ground_block(self) -> list[Bgp]:
        pats = self._template_block(None)
        out = []
        for p in pats:
            p = replace(
                p,
                s=self._ground(p.s, "subject"),
                p=self._ground(p.p, "predicate"),
                o=self._ground(p.o, "object"),
            )
            out.append(p)
        return out

    @staticmethod
    def _ground(e, slot: str):
        if is_var(e):
            if e.startswith("?__bn_"):
                # store-scoped blank-node label, same as the bulk path
                return f"_:{e[len('?__bn_'):]}"
            raise SparqlSyntaxError(
                f"variable {e} in the {slot} of INSERT/DELETE DATA"
            )
        return e

    @staticmethod
    def _check_delete_template(tmpl, where_q) -> None:
        """§3.1.3: no blank nodes in DELETE templates. A ``_:``/[] slot
        parsed to a ?__bn var is legal only if the WHERE binds it."""
        bound = {
            e for p in where_q.patterns for e in (p.s, p.p, p.o, p.g)
            if is_var(e)
        }
        for p in tmpl or ():
            for e in (p.s, p.p, p.o):
                if is_var(e) and e.startswith("?__bn_") and e not in bound:
                    raise SparqlSyntaxError(
                        "blank nodes are not valid in a DELETE template"
                    )


def parse_update(text: str) -> list:
    return _UpdateParser(tokenize(text)).parse_update()


# ---------------------------------------------------------------------------
# execution
# ---------------------------------------------------------------------------

_RESOLVED_SCHEMA = (
    "conv_id string, turn_idx int, subj string, pred string, "
    "obj string, obj_kind int"
)


def _lexical(e) -> tuple[str, int]:
    """Template/data constant → (stored lexical form, kind)."""
    if isinstance(e, tuple):
        return e[0], int(e[1])
    if isinstance(e, (int, float)):
        return repr(float(e)), KIND_NUMERIC
    return str(e), KIND_ENTITY


def _rows_from_patterns(spark, patterns: list[Bgp], for_insert: bool):
    """Ground Bgp rows → resolved-triple DataFrame.

    ``conv_id`` is the graph label: explicit GRAPH g → g; absent →
    DEFAULT_CONTEXT for inserts, NULL (= any-graph wildcard, Sail
    removeStatements semantics) for deletes."""
    rows = []
    for p in patterns:
        s_lex, s_kind = _lexical(p.s)
        p_lex, p_kind = _lexical(p.p)
        o_lex, o_kind = _lexical(p.o)
        if s_kind != KIND_ENTITY or p_kind != KIND_ENTITY:
            raise SparqlSyntaxError(
                "literals are not valid in the subject/predicate position"
            )
        g = p.g if p.g is not None else (DEFAULT_CONTEXT if for_insert else None)
        rows.append((g, 0, s_lex, p_lex, o_lex, o_kind))
    return spark.createDataFrame(rows, _RESOLVED_SCHEMA)


def _rows_from_templates(store, templates: list[Bgp], bindings: DataFrame):
    """Instantiate templates over the binding set → resolved triples.

    Delegates to the CONSTRUCT engine per distinct template graph so
    each output row carries its graph label; ``None`` graph rows keep a
    NULL conv_id (the caller decides wildcard vs default-context)."""
    by_graph: dict[object, list[Bgp]] = {}
    for p in templates:
        by_graph.setdefault(p.g, []).append(p)
    out = None
    for g, pats in by_graph.items():
        q = Query(variables=[], form="construct", construct_template=pats)
        tri = _construct(store, q, bindings, with_kinds=True)
        g_lex = _lexical(g)[0] if g is not None else None
        part = tri.select(
            F.lit(g_lex).cast("string").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.col("s").alias("subj"),
            F.col("p").alias("pred"),
            F.col("o").alias("obj"),
            F.col("__k_o").cast("int").alias("obj_kind"),
        )
        out = part if out is None else out.unionByName(part)
    assert out is not None, "empty update template"
    return out


def _append(store, resolved: DataFrame) -> int:
    from hbase_rdf_spark.streaming.incremental import append_resolved

    resolved = resolved.withColumn(
        "conv_id", F.coalesce(F.col("conv_id"), F.lit(DEFAULT_CONTEXT))
    )
    return append_resolved(store, resolved)["appended_quads"]


def _rewrite_indexes(store, kept: DataFrame, input_sig: str) -> int:
    """Overwrite all three index tables with ``kept`` (already
    checkpointed off the source files). One delta computation, three
    concurrent sorted writes — write_indexes' bulk-load fan-out reused
    for the mutation path. The sig is salted unique so the resume
    short-circuit can never skip a mutation."""
    import uuid

    stats = store.write_indexes(kept, f"{input_sig}:{uuid.uuid4().hex}")
    return stats["spo"]


def _delete_ids(store, dels: DataFrame, input_sig: str) -> int:
    """Remove an id-space delete set from every index table.

    ``dels`` carries QUAD_COLS; a NULL ``c`` row is a context wildcard
    (matches the quad in every graph). The three indexes hold the SAME
    row set in different sort orders, so the kept set is computed ONCE
    from SPO — two null-safe left_anti hash-join legs (never a
    broadcast-nested-loop OR condition), lineage broken before any
    overwrite (the compact() safety pattern) — then fanned out as three
    sorted writes. ``dels`` is read only into that checkpoint, so it
    needs none of its own (its rows are driver-local or checkpointed by
    the caller)."""
    d_ctx = dels.filter(F.col("c").isNotNull())
    d_any = dels.filter(F.col("c").isNull()).drop("c")
    cur = store.index("spo").select(*QUAD_COLS)
    cond = [cur[c].eqNullSafe(d_ctx[c]) for c in QUAD_COLS]
    kept = cur.join(d_ctx, cond, "left_anti")
    cond_any = [
        kept[c].eqNullSafe(d_any[c]) for c in QUAD_COLS if c != "c"
    ]
    kept = kept.join(d_any, cond_any, "left_anti").localCheckpoint(
        eager=True
    )
    n_before = cur.count()
    return n_before - _rewrite_indexes(store, kept, input_sig)


def _delete(store, resolved: DataFrame, input_sig: str) -> int:
    # xxhash64 hashes a NULL input to a value, not to NULL — re-null the
    # context id for wildcard rows (NULL conv_id) so _delete_ids sees
    # the any-graph marker
    enc = encode_quads(resolved)
    dels = enc.select(
        *[c for c in QUAD_COLS if c != "c"],
        F.when(F.col("conv_id").isNotNull(), F.col("c")).alias("c"),
    )
    return _delete_ids(store, dels, input_sig)


def _clear(store, op: ClearOp, input_sig: str) -> int:
    from hbase_rdf_spark.plans.patterns import encode_term

    default_c = encode_term(f"conv:{DEFAULT_CONTEXT}")
    cur = store.index("spo").select(*QUAD_COLS)
    if op.target == "ALL":
        kept = cur.limit(0)
    elif op.target == "DEFAULT":
        kept = cur.filter(F.col("c") != default_c)
    elif op.target == "NAMED":
        kept = cur.filter(F.col("c") == default_c)
    else:  # constant graph IRI
        kept = cur.filter(F.col("c") != encode_term(f"conv:{op.target}"))
    kept = kept.localCheckpoint(eager=True)
    n_before = cur.count()
    return n_before - _rewrite_indexes(store, kept, input_sig)


def _context_id(label: str):
    """Graph label ('DEFAULT' or IRI) → constant-folded context id."""
    from hbase_rdf_spark.plans.patterns import encode_term

    lex = DEFAULT_CONTEXT if label == "DEFAULT" else label
    return encode_term(f"conv:{lex}")


def _ensure_graph_term(store, label: str) -> None:
    """Make sure the dst graph's context term is materializable: append
    its (term, kind, id) dictionary rows if absent. One row, one
    anti-join — negligible at any store size."""
    from hbase_rdf_spark.functions.encoding import KIND_ENTITY, term_id

    lex = DEFAULT_CONTEXT if label == "DEFAULT" else label
    row = store.spark.createDataFrame(
        [(f"conv:{lex}",)], "term string"
    ).select(
        "term",
        F.lit(KIND_ENTITY).cast("tinyint").alias("kind"),
        term_id(KIND_ENTITY, F.col("term")).alias("id"),
    )
    new = row.join(store.id2term().select("id"), "id", "left_anti")
    if new.count():
        store.append_rows("term2id", new)
        store.append_rows(
            "id2term", new.select("id", "kind", F.col("term").alias("label"))
        )


def _graph_manage(store, op: GraphOp, input_sig: str) -> tuple[int, int]:
    """ADD / COPY / MOVE → (inserted, deleted) quad counts.

    Pure context-column algebra over the SPO table: the moved rows keep
    their ids (only ``c`` changes), so no dictionary work beyond the
    dst graph's own term. ADD is an idempotent delta append (no index
    rewrite); COPY/MOVE are single-delta rewrites fanned out through
    the bulk-load writer — Iceberg overwrite commits at cluster scale.
    """
    from hbase_rdf_spark.streaming.incremental import append_quads

    if op.src == op.dst:
        return 0, 0
    src_c, dst_c = _context_id(op.src), _context_id(op.dst)
    spo = store.index("spo").select(*QUAD_COLS)
    moved = spo.filter(F.col("c") == src_c).withColumn("c", dst_c)
    if op.kind == "ADD":
        # both sides derive from the same scan — alias to disambiguate
        m, d = moved.alias("m"), spo.filter(F.col("c") == dst_c).alias("d")
        cond = [
            F.col(f"m.{c}").eqNullSafe(F.col(f"d.{c}")) for c in QUAD_COLS
        ]
        new = m.join(d, cond, "left_anti").localCheckpoint(eager=True)
        n = new.count()
        if n:
            _ensure_graph_term(store, op.dst)
            append_quads(store, new)
        return n, 0
    # COPY/MOVE: dst is overwritten (and MOVE drops src) — count both
    # sides in ONE pass, then rewrite from a single kept set
    counts = {
        r["which"]: r["n"]
        for r in spo.select(
            F.when(F.col("c") == src_c, "src")
            .when(F.col("c") == dst_c, "dst")
            .alias("which")
        )
        .filter(F.col("which").isNotNull())
        .groupBy("which")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    n_src, n_dst = counts.get("src", 0), counts.get("dst", 0)
    keep = (
        spo.filter(F.col("c") != dst_c)
        if op.kind == "COPY"
        else spo.filter((F.col("c") != dst_c) & (F.col("c") != src_c))
    )
    kept = keep.unionByName(moved).localCheckpoint(eager=True)
    if n_src:
        _ensure_graph_term(store, op.dst)
    _rewrite_indexes(store, kept, input_sig)
    deleted = n_dst + (n_src if op.kind == "MOVE" else 0)
    return n_src, deleted


def _load_doc(store, op: LoadOp) -> int:
    """LOAD: S1 parser over the document → idempotent append. A
    malformed line is an error unless SILENT (the reference's loader
    aborts the statement batch on parse failure the same way)."""
    from hbase_rdf_spark.sources.ntriples import (
        corrupt_count,
        quads,
        read_ntriples,
    )

    try:
        parsed = read_ntriples(store.spark, op.source)
        n_bad = corrupt_count(parsed)
        if n_bad:
            raise ValueError(
                f"LOAD <{op.source}>: {n_bad} unparseable line(s)"
            )
        resolved = quads(parsed)
        if op.graph is not None:
            # INTO GRAPH overrides every context in the document (§3.1.4)
            resolved = resolved.withColumn("conv_id", F.lit(op.graph))
        return _append(store, resolved)
    except Exception:
        if op.silent:
            return 0
        raise


def execute_update(store, text: str) -> dict:
    """Run a SPARQL Update request (one or more ';'-chained operations)
    against the store. Returns ``{"inserted": n, "deleted": n}`` counts
    of quads actually added/removed (idempotent re-runs count 0)."""
    ops = parse_update(text)
    totals = {"inserted": 0, "deleted": 0}
    for i, op in enumerate(ops):
        sig = f"update:{i}"
        if op is None:  # CREATE GRAPH — parsed no-op
            continue
        if isinstance(op, GraphOp):
            ins, dels = _graph_manage(store, op, sig)
            totals["inserted"] += ins
            totals["deleted"] += dels
        elif isinstance(op, LoadOp):
            totals["inserted"] += _load_doc(store, op)
        elif isinstance(op, DataOp):
            resolved = _rows_from_patterns(store.spark, op.patterns, op.insert)
            if op.insert:
                totals["inserted"] += _append(store, resolved)
            else:
                totals["deleted"] += _delete(store, resolved, sig)
        elif isinstance(op, ModifyOp):
            bindings = _group_bindings(store, op.where, dedup=True).persist()
            try:
                dels = ins = None
                # both template sets instantiate against the PRE-state:
                # checkpoint breaks their lineage off the index files
                # before any rewrite touches those files (§3.1.3 order:
                # deletes first, inserts second, one WHERE evaluation)
                if op.delete_tmpl:
                    dels = _rows_from_templates(
                        store, op.delete_tmpl, bindings
                    ).localCheckpoint(eager=True)
                if op.insert_tmpl:
                    ins = _rows_from_templates(
                        store, op.insert_tmpl, bindings
                    ).localCheckpoint(eager=True)
                if dels is not None:
                    totals["deleted"] += _delete(store, dels, sig)
                if ins is not None:
                    totals["inserted"] += _append(store, ins)
            finally:
                bindings.unpersist()
        elif isinstance(op, ClearOp):
            totals["deleted"] += _clear(store, op, sig)
        else:  # pragma: no cover
            raise AssertionError(f"unknown update op {op!r}")
    return totals
