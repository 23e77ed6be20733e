"""Seeded benchmark inputs: transcripts, SPARQL reads, updates and
N-Quads documents. The same seed always yields the same inputs; the
program under test only ever sees the generated files and texts."""

from __future__ import annotations

import random

from hbase_rdf_spark.sources.synthetic import canonical_entities, transcripts_pdf

NS = "urn:perfbench:"
XSD = "http://www.w3.org/2001/XMLSchema#"
ZIPF_SKEW = 1.1  # entity constants: weight of rank r is 1 / (r + 1) ** ZIPF_SKEW
DOC_QUADS = 24  # quads per LOAD document
COMMENT_EVERY = 6  # a comment line after every this many quads


def write_transcripts(path: str, n_convs: int, seed: int, conv_offset: int = 0):
    """One parquet file of the transcript table; returns its pandas frame."""
    pdf = transcripts_pdf(n_convs, seed=seed, conv_offset=conv_offset)
    pdf.to_parquet(path, index=False, coerce_timestamps="us",
                   allow_truncated_timestamps=True)
    return pdf


class Vocabulary:
    """Entity constants drawn with Zipf skew (rank = canonical order)."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.pools: dict[str, list[str]] = {}
        for eid, kind, _ in canonical_entities():
            self.pools.setdefault(kind, []).append(eid)
        self.weights = {
            k: [1.0 / (r + 1) ** ZIPF_SKEW for r in range(len(v))]
            for k, v in self.pools.items()
        }

    def pick(self, kind: str) -> str:
        return self.rng.choices(self.pools[kind], self.weights[kind])[0]


# -- SPARQL read templates ---------------------------------------------------
# Each template yields (sparql, duckdb_sql, form). The DuckDB side runs
# over the view ``q(s, p, o, onum, g)`` of decoded quads (see oracle.py);
# ``o`` holds the stored label of entity/string objects and ``onum`` the
# value of numeric ones. With no dataset clause the engine scans one
# solution per quad, so the SQL joins quads, not distinct triples.

def _chain(v: Vocabulary):
    p = v.pick("person")
    return (
        f"SELECT ?y ?o ?c WHERE {{ <{p}> <rel:knows> ?y . ?y <rel:works_at> ?o . "
        "?o <rel:located_in> ?c }",
        "SELECT a.o, b.o, c.o FROM q a JOIN q b ON b.s = a.o JOIN q c ON c.s = b.o "
        f"WHERE a.s = '{p}' AND a.p = 'rel:knows' AND b.p = 'rel:works_at' "
        "AND c.p = 'rel:located_in'",
        "select")


def _optional(v: Vocabulary):
    city = v.pick("city")
    return (
        f"SELECT DISTINCT ?x ?a WHERE {{ ?x <rel:lives_in> <{city}> "
        "OPTIONAL { ?x <rel:age> ?a } FILTER(!BOUND(?a) || ?a >= 40) }",
        "SELECT DISTINCT a.s, b.onum FROM q a "
        "LEFT JOIN q b ON b.s = a.s AND b.p = 'rel:age' "
        f"WHERE a.p = 'rel:lives_in' AND a.o = '{city}' "
        "AND (b.onum IS NULL OR b.onum >= 40)",
        "select")


def _construct(v: Vocabulary):
    org = v.pick("org")
    return (
        f"CONSTRUCT {{ ?x <{NS}colleague> ?y }} WHERE {{ ?x <rel:works_at> <{org}> . "
        f"?y <rel:works_at> <{org}> }}",
        "SELECT DISTINCT a.s, b.s FROM q a JOIN q b ON a.o = b.o "
        f"WHERE a.p = 'rel:works_at' AND b.p = 'rel:works_at' AND a.o = '{org}'",
        "construct")


TEMPLATES = {"chain": _chain, "optional": _optional, "construct": _construct}

COUNT_QUADS = (
    "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }",
    "SELECT count(*) FROM q",
    "select",
)

PREDICATE_COUNTS = (
    "SELECT ?p (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?p",
    "SELECT p, count(*) FROM q GROUP BY p",
    "select",
)


# -- writes ------------------------------------------------------------------

def doc_graph(i: int) -> str:
    """The named graph holding every other quad of document ``i``."""
    return f"{NS}doc{i}/g"


def delete_graph(i: int) -> str:
    """DELETE WHERE removing the named-graph quads of document ``i``."""
    return f"DELETE WHERE {{ GRAPH <{doc_graph(i)}> {{ ?s ?p ?o }} }}"


def nquads_doc(i: int, v: Vocabulary) -> tuple[str, int, int]:
    """An N-Quads document mixing IRIs, blank nodes, language-tagged,
    typed numeric and escaped literals, the default and a named graph,
    and comments. Every line is a distinct quad; every other one is in
    ``doc_graph(i)``. Returns (text, quads, quads in the named graph)."""
    r = v.rng
    lines, n = [f"# perfbench document {i}"], 0
    while n < DOC_QUADS:
        s = (f"_:d{i}b{n}" if n % 5 == 0 else f"<{NS}doc{i}/s{n}>")
        g = f" <{doc_graph(i)}>" if n % 2 else ""
        kind = n % 5
        if kind == 0:
            o = f"<{v.pick('person')}>"
        elif kind == 1:
            o = f'"label {r.randint(0, 999)}"@{r.choice(["en", "de", "nl-BE"])}'
        elif kind == 2:
            o = f'"{r.randint(-500, 500)}"^^<{XSD}integer>'
        elif kind == 3:
            o = f'"tab\\tquote\\"caf\\u00E9 {r.randint(0, 99)}"'
        else:
            o = f'"{r.random():.4f}"^^<{XSD}double>'
        lines.append(f"{s} <{NS}p{kind}> {o}{g} .")
        n += 1
        if n % COMMENT_EVERY == 0:
            lines.append(f"# comment after {n} quads")
    return "\n".join(lines) + "\n", DOC_QUADS, DOC_QUADS // 2
