"""Stage 7b — BGP (basic graph pattern) evaluation: set-oriented joins.

The reference evaluates a BGP as an index-nested-loop chain: one HBase
prefix scan **per upstream binding** per pattern
(reference: nl/vu/jena/sparql/engine/iterator/QueryIterTriplePattern.java:21-143,
QueryIterBlockTriples.java:42-115). That per-binding re-scan is the
single biggest scalability cliff in the reference design; this module
replaces it with hash/sort-merge DataFrame joins — the whole point of
the Spark rebuild (SURVEY.md §7.5).

What carries over semantically:

- **Greedy selectivity reordering** — deterministic parity with the
  reference's static weight table + bound-var promotion
  (reference: nl/vu/jena/sparql/engine/optimizer/reorder/ReorderHeuristics.java:41-74
  weights, :105-159 greedy loop + VAR→TERM promotion). Catalyst/AQE
  would reorder too, but the explicit pre-planner keeps plans stable
  run-to-run (resume + P/R determinism).
- **Id-space execution** (reference: graph/ValueIdMapper.java:20-111):
  constants are hash-encoded into the scan predicates; joins run on
  64-bit ids; a constant with no dictionary entry simply yields an
  empty scan (the reference's dummy-NULL-pattern trick, QueryIterBlockTriples.java:84-96,
  falls out for free).
- **Late materialization** (reference: binding/BindingMaterializer.java:25-116):
  ids become lexical terms only after all joins, via one id2term join
  per projected variable.
- **One BGP is one join chain**: every var a pattern binds is bound,
  so its joins are plain equi joins. The group algebra around BGPs —
  OPTIONAL, MINUS, EXISTS, VALUES, UNION — and its SPARQL
  compatibility join (``_join``) live in plans/sparql.py.
- **Property paths** (reference flattens via ARQ,
  optimizer/HBaseOptimize.java:111): an algebra over (a, b) pair sets —
  atom scans, inverse (swap), sequence (pair join), alternative
  (union), and the +/*/? closures via iterative frontier expansion.

Variable bindings are uniform ``struct(kind, id, num)`` columns so
entity and numeric-literal bindings join and compare with one code path
(the TypedId duality of the reference, id/TypedId.java:21-46).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from hbase_rdf_spark.functions.encoding import KIND_ENTITY
from hbase_rdf_spark.plans.patterns import TriplePattern, scan


@dataclass(frozen=True)
class Path:
    """A property-path expression tree (predicate position of a Bgp).

    op: 'atom' (single IRI), 'inv' (^p), 'seq' (p1/p2), 'alt' (p1|p2),
    'mod' (child with '+', '*', '?' — or an ARQ counted quantifier
    ``(lo, hi)`` with ``hi=None`` for the unbounded ``{n,}`` form).
    """

    op: str
    children: tuple = ()
    iri: str | None = None
    mod: str | tuple | None = None


Elem = str | tuple[str, int] | int | float  # "?var" | term | (lex, kind) | number


def is_var(e) -> bool:
    return isinstance(e, str) and e.startswith("?")


@dataclass(frozen=True)
class Bgp:
    """One pattern of a BGP: each element a '?var' or a constant.

    ``g`` is the named-graph/context slot (GRAPH clause): None = any
    graph, '?var' = bind it, constant = filter on it — the quad-pattern
    C position of the reference's SPOC masks. ``p`` may be a ``Path``
    tree (a property path).
    """

    s: Elem
    p: Elem | Path
    o: Elem
    g: Elem | None = None
    filtered: bool = False  # an attached FILTER bonus, per ReorderHeuristics
    # dataset-clause graph-set restriction (SPARQL 1.1 §13.2), applied
    # when ``g`` is None (FROM default-graph merge of ≥2 graphs) or a
    # '?var' (FROM NAMED restriction on GRAPH ?var). The empty tuple
    # is the empty graph — the pattern matches nothing.
    g_in: tuple | None = None


# Static weight table — parity with ReorderHeuristics.java:41-74.
_WEIGHTS = {
    "spo": 1.0, "sp?": 2.0, "s?o": 3.0, "?po": 4.0,
    "s??": 5.0, "??o": 6.0, "?p?": 7.0, "???": 8.0,
}
_FILTER_BONUS = 0.5  # filtered pattern ranks above its unfiltered twin


def _mask(p: Bgp, bound: set[str]) -> str:
    def b(e, ch: str) -> str:
        if not is_var(e):
            return ch
        return ch if e in bound else "?"  # bound-var promotion VAR→TERM

    return b(p.s, "s") + b(p.p, "p") + b(p.o, "o")


def reorder(patterns: list[Bgp]) -> list[Bgp]:
    """Greedy lowest-weight-first ordering with bound-var promotion."""
    remaining = list(patterns)
    bound: set[str] = set()
    ordered: list[Bgp] = []
    while remaining:
        best_i, best_w = 0, float("inf")
        for i, p in enumerate(remaining):
            w = _WEIGHTS[_mask(p, bound)] - (_FILTER_BONUS if p.filtered else 0.0)
            if w < best_w:
                best_i, best_w = i, w
        chosen = remaining.pop(best_i)
        ordered.append(chosen)
        for e in (chosen.s, chosen.p, chosen.o):
            if is_var(e):
                bound.add(e)
    return ordered


def _binding_struct(kind: Column, ident: Column, num: Column) -> Column:
    return F.struct(
        kind.cast("tinyint").alias("kind"),
        ident.cast("bigint").alias("id"),
        num.cast("double").alias("num"),
    )


def pattern_vars(patterns: list[Bgp]) -> set[str]:
    """All variable names (no '?') a pattern list can bind."""
    out: set[str] = set()
    for p in patterns:
        for e in (p.s, p.p, p.o, p.g):
            if is_var(e):
                out.add(e[1:])
    return out


# ---------------------------------------------------------------------------
# property paths: an algebra over (a, b) pair sets
# ---------------------------------------------------------------------------

PATH_MAX_ITERS = 30

_PAIR_COLS = ["a", "a_kind", "a_num", "b", "b_kind", "b_num"]


def _merged_graph_dedup(df: DataFrame, g) -> DataFrame:
    """FROM default-graph merge = RDF merge (set union for ground
    triples): a triple asserted in ≥2 FROM graphs contributes ONE edge
    to path evaluation, not one per containing graph (ADVICE r3)."""
    if isinstance(g, tuple) and len(g) > 1:
        return df.distinct()
    return df


def _named_graphs_only(e: DataFrame) -> DataFrame:
    """Restrict a scan to NAMED graphs: GRAPH ?g iterates the named
    graphs of the dataset (SPARQL 1.1 §13.3) — the default-context
    sentinel rows (sources/ntriples.py DEFAULT_CONTEXT) are not one."""
    from hbase_rdf_spark.plans.patterns import encode_term
    from hbase_rdf_spark.sources.ntriples import DEFAULT_CONTEXT

    return e.filter(F.col("c") != encode_term(f"conv:{DEFAULT_CONTEXT}"))


def _pair_select(e: DataFrame, per_graph: bool, swap: bool = False) -> DataFrame:
    """Project a quad scan to the pair-set shape; in per-graph mode the
    context id rides along as ``g`` so every downstream join/closure
    stays within one named graph."""
    if swap:
        cols = [
            F.col("o").alias("a"),
            F.col("o_kind").alias("a_kind"),
            F.col("o_num").alias("a_num"),
            F.col("s").alias("b"),
            F.lit(0).cast("tinyint").alias("b_kind"),
            F.lit(None).cast("double").alias("b_num"),
        ]
    else:
        cols = [
            F.col("s").alias("a"),
            F.lit(0).cast("tinyint").alias("a_kind"),
            F.lit(None).cast("double").alias("a_num"),
            F.col("o").alias("b"),
            F.col("o_kind").alias("b_kind"),
            F.col("o_num").alias("b_num"),
        ]
    if per_graph:
        cols.append(F.col("c").alias("g"))
        e = _named_graphs_only(e)
    return e.select(*cols)


def _atom_pairs(store, iri: str, g, per_graph: bool = False) -> DataFrame:
    """Single-hop pairs of one predicate (optionally graph-restricted)."""
    e = scan(store, TriplePattern(p=iri, c=g))
    if per_graph:
        return _pair_select(e, True)
    return _merged_graph_dedup(_pair_select(e, False), g)


def _neg_pairs(store, members: tuple, g, per_graph: bool = False) -> DataFrame:
    """Negated property set ``!(p1|^q1|…)``: scans with the member ids
    excluded. The inequality conjuncts constant-fold (plan-time
    xxhash64 of each IRI) and push into the parquet scan — work is
    ∝ non-member edges, never a join. Per SPARQL 1.1 §9.1 a mixed set
    splits into ``!(forward…) UNION ^(!(inverse…))`` — the inverse part
    is the same scan with endpoints swapped."""
    from functools import reduce

    from hbase_rdf_spark.plans.patterns import encode_term

    fwd = [m for m in members if m.op == "atom"]
    rev = [m.children[0] for m in members if m.op == "inv"]

    def nps(excluded, swap: bool) -> DataFrame:
        e = scan(store, TriplePattern(c=g))
        cond = reduce(
            lambda a, b: a & b,
            (F.col("p") != encode_term(m.iri) for m in excluded),
        )
        return _pair_select(e.filter(cond), per_graph, swap=swap)

    parts = []
    if fwd:
        parts.append(nps(fwd, swap=False))
    if rev:
        parts.append(nps(rev, swap=True))
    if len(parts) == 1:
        if per_graph:
            return parts[0]
        return _merged_graph_dedup(parts[0], g)
    # mixed set = alt() of the two NPS parts → set semantics like 'alt'
    return parts[0].unionByName(parts[1]).distinct()


def _graph_nodes(store, g, per_graph: bool = False) -> DataFrame:
    """All terms occurring in the graph as identity pairs (a=b) — the
    zero-length path endpoints for * and ? modifiers. In per-graph
    mode, the node sets are computed per NAMED graph (a node in two
    graphs is a zero-length endpoint in each)."""
    spo = scan(store, TriplePattern(c=g))
    if per_graph:
        spo = _named_graphs_only(spo)
    gcol = [F.col("c").alias("g")] if per_graph else []
    subs = spo.select(
        F.col("s").alias("b"),
        F.lit(0).cast("tinyint").alias("b_kind"),
        F.lit(None).cast("double").alias("b_num"),
        *gcol,
    )
    objs = spo.select(
        F.col("o").alias("b"),
        F.col("o_kind").alias("b_kind"),
        F.col("o_num").alias("b_num"),
        *gcol,
    )
    return (
        subs.unionByName(objs)
        .dropDuplicates(["b", "g"] if per_graph else ["b"])
        .select(
            F.col("b").alias("a"),
            F.col("b_kind").alias("a_kind"),
            F.col("b_num").alias("a_num"),
            "b", "b_kind", "b_num",
            *(["g"] if per_graph else []),
        )
    )


def _pair_key(per_graph: bool = False) -> Column:
    """Null-safe dedup key over all pair columns: NULLs (numeric
    endpoints carry NULL ids, IRI endpoints NULL nums) coalesce to a
    sentinel so identical pairs compare equal in a plain equi-join."""
    cols = _PAIR_COLS + (["g"] if per_graph else [])
    return F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols],
    )


def _closure(base: DataFrame) -> DataFrame:
    """Transitive closure of a pair set: pairs reachable in ≥ 1 steps.

    Iterative SQUARING (closure ⋈ closure) with distinct + anti-join
    (only genuinely NEW pairs extend the set), ``localCheckpoint`` per
    round to cut lineage — the same iterative-DataFrame discipline as
    connected components (operators/cc.py). Round k covers all paths
    of length ≤ 2^k, so convergence takes O(log₂ diameter) shuffle
    rounds instead of O(diameter) — the property that keeps deep
    chains (supply graphs, citation chains) tractable at cluster
    scale; PATH_MAX_ITERS=30 therefore bounds path length at 2^30.
    Cycles terminate naturally: a revisited pair is filtered by the
    anti-join. Literal endpoints are terminal by construction (their
    kind-tagged hash ids never appear in the ``a`` position of a
    forward step; numeric endpoints have NULL ids and drop out of the
    equi-join).
    """
    per_graph = "g" in base.columns
    # __pk rides the closure as a MATERIALIZED column: computed once per
    # row when the row first appears, persisted by the per-round
    # localCheckpoint, never recomputed over the (growing) closure again.
    # The previous form re-derived the key over the full closure and
    # distinct()ed it every round — an O(|closure|) extra shuffle per
    # round that dominated deep-chain wall time.
    closure = (
        base.withColumn("__pk", _pair_key(per_graph))
        .dropDuplicates(["__pk"])
        .localCheckpoint(eager=True)
    )
    for _ in range(PATH_MAX_ITERS):
        cond = F.col("f.b") == F.col("e.a")
        if per_graph:
            # per-named-graph closure (GRAPH ?var): a step never
            # crosses graphs — join keys are (node, graph)
            cond = cond & (F.col("f.g") == F.col("e.g"))
        nxt = (
            closure.alias("f")
            .join(closure.alias("e"), cond)
            .select(
                F.col("f.a").alias("a"),
                F.col("f.a_kind").alias("a_kind"),
                F.col("f.a_num").alias("a_num"),
                F.col("e.b").alias("b"),
                F.col("e.b_kind").alias("b_kind"),
                F.col("e.b_num").alias("b_num"),
                *([F.col("f.g").alias("g")] if per_graph else []),
            )
        )
        # null-SAFE anti-join: numeric-literal endpoints reached at
        # depth ≥ 2 carry NULL b ids (their value lives in b_num), and
        # a null-unsafe key never matches itself — such pairs would
        # re-emerge as "new" every round and the loop would never
        # converge (ADVICE r3, high). A single computed key coalescing
        # every pair column (NULL → sentinel) keeps the anti-join an
        # ordinary single-column hash join instead of a 4-way
        # eqNullSafe condition (which Spark also fails to resolve on
        # this self-referential lineage — "key not found: a_kind").
        # dropDuplicates on the key doubles as the squaring distinct.
        new = (
            nxt.withColumn("__pk", _pair_key(per_graph))
            .dropDuplicates(["__pk"])
            .join(closure.select("__pk"), "__pk", "left_anti")
            .localCheckpoint(eager=True)
        )
        if new.isEmpty():
            break
        # no checkpoint on the union itself: both inputs are already
        # checkpointed LogicalRDDs (union tree depth ≤ PATH_MAX_ITERS),
        # and Spark 4.1's LogicalRDD.rewriteStatsAndConstraints crashes
        # on Union plans whose constraints mention pruned attributes
        # ("key not found: a_kind").
        closure = closure.unionByName(new)
    else:
        raise RuntimeError(f"path closure did not converge in {PATH_MAX_ITERS} rounds")
    return closure.drop("__pk")


def _pairs(store, path: Path, g, per_graph: bool = False) -> DataFrame:
    """Evaluate a path expression to its (a, b) pair set.

    ``per_graph=True`` (GRAPH ?var, SPARQL 1.1 §13.3): every frame
    carries the context id as ``g`` and each named graph is evaluated
    independently — one extra join key, no extra shuffles."""
    if path.op == "atom":
        return _atom_pairs(store, path.iri, g, per_graph)
    if path.op == "neg":
        return _neg_pairs(store, path.children, g, per_graph)
    if path.op == "inv":
        inner = _pairs(store, path.children[0], g, per_graph)
        return inner.select(
            F.col("b").alias("a"),
            F.col("b_kind").alias("a_kind"),
            F.col("b_num").alias("a_num"),
            F.col("a").alias("b"),
            F.col("a_kind").alias("b_kind"),
            F.col("a_num").alias("b_num"),
            *(["g"] if per_graph else []),
        )
    if path.op == "seq":
        acc = _pairs(store, path.children[0], g, per_graph)
        for child in path.children[1:]:
            acc = _compose(acc, _pairs(store, child, g, per_graph), per_graph)
        return acc
    if path.op == "alt":
        out = _pairs(store, path.children[0], g, per_graph)
        for child in path.children[1:]:
            out = out.unionByName(_pairs(store, child, g, per_graph))
        return out.distinct()
    if path.op == "mod":
        inner = _pairs(store, path.children[0], g, per_graph)
        nodes = lambda: _graph_nodes(store, g, per_graph)  # noqa: E731
        if path.mod == "+":
            return _closure(inner)
        if path.mod == "*":
            return _closure(inner).unionByName(nodes()).distinct()
        if path.mod == "?":
            return inner.unionByName(nodes()).distinct()
        if isinstance(path.mod, tuple):
            # counted repetition p{n}, p{n,}, p{n,m} — an ARQ
            # extension the reference inherits through Jena's path
            # grammar (SURVEY J9). Set semantics per power (each
            # k-hop pair set dedups before the next composition, the
            # same discipline as the closure — without it the
            # intermediate bag grows with the number of distinct
            # walks, which is exponential on dense graphs).
            lo, hi = path.mod
            one = inner.distinct()
            if hi is None:
                # p{n,} ≡ p^n / p*  (p{0,} ≡ p*)
                star = _closure(one).unionByName(nodes()).distinct()
                if lo == 0:
                    return star
                acc = one
                for _ in range(lo - 1):
                    acc = _compose(acc, one, per_graph).distinct()
                return _compose(acc, star, per_graph).distinct()
            # p{n,m} ≡ ∪ k∈[n,m] p^k  (k=0 contributes the node set)
            parts = []
            if lo == 0:
                parts.append(nodes())
            acc = one
            for k in range(1, hi + 1):
                if k > 1:
                    acc = _compose(acc, one, per_graph).distinct()
                if k >= max(lo, 1):
                    parts.append(acc)
            out = parts[0]
            for p_ in parts[1:]:
                out = out.unionByName(p_)
            return out.distinct()
        raise ValueError(f"unknown path modifier {path.mod!r}")
    raise ValueError(f"unknown path op {path.op!r}")


def _compose(l: DataFrame, r: DataFrame, per_graph: bool = False) -> DataFrame:
    """Relational composition of two path pair sets: (a→x) ⋈ (x→b).
    In per-graph mode the context id is an extra join key — a path
    never crosses graphs (SPARQL 1.1 §13.3)."""
    cond = F.col("l.b") == F.col("r.a")
    if per_graph:
        cond = cond & (F.col("l.g") == F.col("r.g"))
    return (
        l.alias("l")
        .join(r.alias("r"), cond)
        .select(
            F.col("l.a").alias("a"),
            F.col("l.a_kind").alias("a_kind"),
            F.col("l.a_num").alias("a_num"),
            F.col("r.b").alias("b"),
            F.col("r.b_kind").alias("b_kind"),
            F.col("r.b_num").alias("b_num"),
            *([F.col("l.g").alias("g")] if per_graph else []),
        )
    )


def _endpoint_filter(df: DataFrame, col: str, value) -> DataFrame:
    """Constrain a pair endpoint (a/b) to a constant term."""
    from hbase_rdf_spark.plans.patterns import encode_term

    if isinstance(value, (int, float)) and not isinstance(value, bool):
        return df.filter(
            (F.col(f"{col}_kind") == 2) & (F.col(f"{col}_num") == float(value))
        )
    lex, kind = value if isinstance(value, tuple) else (value, KIND_ENTITY)
    return df.filter(
        (F.col(f"{col}_kind") == kind) & (F.col(col) == encode_term(lex, kind))
    )


def _path_step(store, p: Bgp) -> DataFrame:
    """Binding step for a pattern whose predicate is a path expression.

    ``GRAPH ?var { … path … }`` runs the pair algebra in per-graph
    mode: the context id threads through every combinator as an extra
    join key (closures never cross graphs, SPARQL 1.1 §13.3) and binds
    the graph variable from the surviving ``g`` column. The reference
    gets this for free from ARQ's per-graph dataset iteration
    (optimizer/HBaseOptimize.java:28-124 path flattening)."""
    per_graph = is_var(p.g)
    if per_graph:
        # p.g_in = FROM NAMED restriction on the iterated graph set
        # (None = all named graphs; () = empty set — matches nothing)
        df = _pairs(store, p.p, p.g_in, per_graph=True)
    else:
        df = _pairs(store, p.p, p.g if p.g is not None else p.g_in)
    if not is_var(p.s):
        df = _endpoint_filter(df, "a", p.s)
    if not is_var(p.o):
        df = _endpoint_filter(df, "b", p.o)
    gcols = (
        [_binding_struct(F.lit(0), F.col("g"), F.lit(None)).alias(p.g[1:])]
        if per_graph
        else []
    )
    if is_var(p.s) and is_var(p.o) and p.s == p.o:
        # same var both ends: only cyclic reachability rows qualify
        return df.filter(F.col("a") == F.col("b")).select(
            _binding_struct(
                F.col("a_kind"), F.col("a"), F.col("a_num")
            ).alias(p.s[1:]),
            *gcols,
        )
    cols = []
    if is_var(p.s):
        cols.append(
            _binding_struct(F.col("a_kind"), F.col("a"), F.col("a_num")).alias(p.s[1:])
        )
    if is_var(p.o):
        cols.append(
            _binding_struct(F.col("b_kind"), F.col("b"), F.col("b_num")).alias(p.o[1:])
        )
    cols.extend(gcols)
    if not cols:
        cols.append(F.lit(1).alias("__exists"))
    return df.select(*cols)


def _scan_pattern(store, p: Bgp) -> DataFrame:
    """Scan one pattern; project var columns as binding structs."""
    if isinstance(p.p, Path):
        return _path_step(store, p)
    tp = TriplePattern(
        s=None if is_var(p.s) else p.s,
        p=None if is_var(p.p) else p.p,
        o=None
        if is_var(p.o)
        else ((p.o, KIND_ENTITY) if isinstance(p.o, str) else
              (p.o if isinstance(p.o, tuple) else None)),
        o_num=p.o if isinstance(p.o, (int, float)) and not isinstance(p.o, bool) else None,
        c=(
            p.g
            if (p.g is not None and not is_var(p.g))
            else p.g_in  # graph-set restriction (dataset clauses)
        ),
    )
    df = scan(store, tp)
    if p.g is None and isinstance(p.g_in, tuple) and len(p.g_in) > 1:
        # FROM default-graph merge: SPARQL 1.1 §13.2 defines the
        # default graph as the RDF MERGE (set union for ground
        # triples) of the FROM graphs — a triple asserted in two of
        # them must yield ONE solution, not one per containing graph
        # (ADVICE r3, medium). The graph var is unbound here, so the
        # c column is free to collapse.
        df = df.dropDuplicates(["s", "p", "o", "o_kind", "o_num"])
    bindings: list[tuple[str, Column]] = []
    if is_var(p.s):
        bindings.append((p.s[1:], _binding_struct(F.lit(0), F.col("s"), F.lit(None))))
    if is_var(p.p):
        bindings.append((p.p[1:], _binding_struct(F.lit(0), F.col("p"), F.lit(None))))
    if is_var(p.o):
        bindings.append(
            (p.o[1:], _binding_struct(F.col("o_kind"), F.col("o"), F.col("o_num")))
        )
    if p.g is not None and is_var(p.g):
        bindings.append((p.g[1:], _binding_struct(F.lit(0), F.col("c"), F.lit(None))))
    # duplicate-var consistency WITHIN a pattern (?x p ?x): bind once,
    # constrain the repeated positions equal — the reference enforces
    # this in its binding insert (graph/TripleBinder.java:10-33,
    # QueryIterTriplePattern.insert)
    seen: dict[str, Column] = {}
    cols = []
    for name, struct_col in bindings:
        if name in seen:
            df = df.filter(seen[name].eqNullSafe(struct_col))
        else:
            seen[name] = struct_col
            cols.append(struct_col.alias(name))
    if not cols:  # fully bound pattern → existence check, keep a marker
        cols.append(F.lit(1).alias("__exists"))
    return df.select(*cols)


# ---------------------------------------------------------------------------
# filter application (id space + label space)
# ---------------------------------------------------------------------------


def _attach_filter_labels(store, df: DataFrame, names: list[str]) -> DataFrame:
    """Attach ``__{name}_flbl`` lexical-label columns for label-space
    filters — regex/str()/langMatches/isIRI/isBlank (see
    plans/filters.py). A var carrying a ``__{name}_vlex`` sidecar (a
    BIND/VALUES term that may be absent from the dictionary) reads
    it; any other takes one id2term join."""
    for n in names:
        if f"__{n}_flbl" in df.columns:
            continue
        if f"__{n}_vlex" in df.columns:
            df = df.withColumn(f"__{n}_flbl", F.col(f"__{n}_vlex"))
            continue
        d = store.id2term().select(
            F.col("id").alias(f"__{n}_fid"),
            F.col("label").alias(f"__{n}_flbl"),
        )
        df = df.join(
            d, df[n].getField("id") == d[f"__{n}_fid"], "left"
        ).drop(f"__{n}_fid")
    return df


def _apply_filters(store, df: DataFrame, fs: list) -> DataFrame:
    """Apply a batch of filters with ONE id2term label join per
    variable, shared across every filter in the batch that reads that
    variable's label. The per-filter attach/drop cycle re-joined the
    dictionary once PER FILTER — four conjuncts over the same ?t
    lexical (YEAR/MONTH/DAY range splits) cost four identical
    broadcast joins; batched they cost one."""
    lv = sorted(set().union(*(f.label_vars() for f in fs))) if fs else []
    attach = [n for n in lv if f"__{n}_flbl" not in df.columns]
    if attach:
        df = _attach_filter_labels(store, df, attach)
    for f in fs:
        df = df.filter(f.cond())
    return df.drop(*[f"__{n}_flbl" for n in attach]) if attach else df


# ---------------------------------------------------------------------------
# BGP execution
# ---------------------------------------------------------------------------


def _const_cmp_var(f) -> str | None:
    """'?v' when FILTER conjunct ``f`` compares one variable with a
    constant in id space (``?v > 3``, ``<iri> = ?v``), else None."""
    e = f.ast
    if e[0] not in ("cmp", "sameterm") or f.label_vars():
        return None
    a, b = e[-2:]
    if a[0] != "var":
        a, b = b, a
    return a[1] if a[0] == "var" and b[0] in ("num", "const") else None


def execute_bgp(
    store,
    patterns: list[Bgp],
    filters=None,
    dedup: bool = False,
) -> DataFrame:
    """Evaluate a BGP to a DataFrame of binding structs (one col per var).

    ``filters`` — FILTER conjuncts (``plans/expr.py`` ``Expr``):
    id-space filters apply eagerly inside the join loop as soon as
    their variables are in scope (Catalyst pushes them into the
    scans); label-space ones run in one batch after the joins. A
    filter whose variables the patterns never bind raises instead of
    being silently dropped.
    OPTIONAL, UNION and the rest of the group algebra live in the
    group evaluator (``plans/sparql.py _group_bindings``).

    ``dedup=True`` — set-semantics evaluation: each pattern step
    dedupes before joining. ONLY valid when the caller needs the
    solution SET (SELECT DISTINCT / ASK — never aggregates, which
    count multiplicities). Joins of duplicate-free inputs with all
    columns kept stay duplicate-free, so one distinct per scan replaces
    a quadratic dup fan-out through dense joins — the multiplicities a
    quad store accumulates across contexts never multiply.
    """
    from dataclasses import replace

    filters = list(filters or [])
    # J8 fidelity: a pattern whose object var a filter compares against
    # a constant ranks above its unfiltered twin (ReorderHeuristics'
    # filtered flag, reference: optimizer/reorder/StatsMatcher.java:291-400)
    fvars = {v for f in filters if (v := _const_cmp_var(f))}
    patterns = [
        replace(p, filtered=True)
        if (is_var(p.o) and p.o in fvars and not p.filtered)
        else p
        for p in patterns
    ]
    pending = list(filters)
    result: DataFrame | None = None
    for p in reorder(patterns):
        step = _scan_pattern(store, p)
        if dedup:
            step = step.dropDuplicates()
        if result is None:
            result = step
        else:
            shared = [c for c in step.columns if c in result.columns and c != "__exists"]
            if shared:
                result = result.join(step, on=shared, how="inner")
            else:
                result = result.crossJoin(step)
        for f in [
            f for f in pending
            if f.vars() <= set(result.columns) and not f.label_vars()
        ]:
            result = _apply_filters(store, result, [f])
            pending.remove(f)
    assert result is not None, "empty BGP"
    # label-space filters once the bindings are complete — batched so
    # conjuncts over the same var share one dictionary join
    ready = [f for f in pending if f.vars() <= set(result.columns)]
    result = _apply_filters(store, result, ready)
    if len(ready) != len(pending):
        missing = sorted(
            set().union(*(f.vars() for f in pending)) - set(result.columns)
        )
        raise ValueError(
            f"FILTER references variables never bound by the pattern: {missing}"
        )
    if "__exists" in result.columns:
        result = result.drop("__exists")
    return result


def materialize(
    result: DataFrame,
    store,
    variables: list[str] | None = None,
    keep: list[str] | None = None,
    with_kinds: bool = False,
) -> DataFrame:
    """Late materialization: binding structs → lexical strings.

    One broadcast-or-shuffle join with id2term per projected variable —
    the set-oriented analog of the reference's per-binding LRU-memoized
    id→string resolution (binding/BindingMaterializer.java:25-116).

    ``keep``: plain (non-binding) columns to pass through verbatim —
    aggregate outputs that are already scalar values.

    ``with_kinds``: additionally emit one ``__k_{var}`` tinyint column
    per variable carrying the binding struct's term kind (0 entity /
    1 string literal / 2 numeric), so downstream layers (the SPARQL
    JSON endpoint) can type terms exactly instead of re-sniffing
    rendered lexical strings.
    """
    id2term = store.id2term()
    variables = variables or [
        c for c in result.columns
        if c not in (keep or []) and not c.startswith("__")
    ]
    names = [v[1:] if v.startswith("?") else v for v in variables]
    # one dictionary join per DISTINCT variable (a repeated projection
    # reuses its label), then every column rendered in ONE select —
    # each DataFrame step re-analyses the whole growing plan
    out = result
    for name in dict.fromkeys(names):
        d = id2term.select(
            F.col("id").alias(f"__{name}_id"), F.col("label").alias(f"__{name}_label")
        )
        out = out.join(
            d, F.col(name).getField("id") == F.col(f"__{name}_id"), "left"
        )

    def term(name: str):
        # fallback chain: dictionary label → sidecar lexical (a VALUES
        # constant absent from the store dictionary) → numeric rendering
        fallbacks = [F.col(f"__{name}_label")]
        if f"__{name}_vlex" in result.columns:
            fallbacks.append(F.col(f"__{name}_vlex"))
        fallbacks.append(F.col(name).getField("num").cast("string"))
        return F.coalesce(*fallbacks).alias(name)

    cols = [term(n) for n in names] + [F.col(k) for k in (keep or [])]
    if with_kinds:
        cols += [F.col(n).getField("kind").alias(f"__k_{n}") for n in names]
    return out.select(*cols)
