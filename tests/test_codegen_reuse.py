"""Each query shape the engine runs is compiled once per JVM.

Spark compiles every whole-stage and expression class with Janino and
keeps the classes in a cache of ``spark.sql.codegen.cache.maxEntries``
entries. ``get_spark`` sizes it to the engine's working set; at Spark's
default of 100 one build alone evicts its own classes, and every later
build, write and read recompiles them. Here one round of every write
path and the endpoint's reads runs twice, each time into a fresh store,
and the second round must find every class it needs in the cache.
"""

import pytest

from hbase_rdf_spark.engine import KgEngine
from hbase_rdf_spark.service import results_json, results_ntriples
from hbase_rdf_spark.sources.synthetic import build_gazetteer, transcripts_df

BASE_CONVS, APPEND_CONVS = 8, 3
GRAPH = "http://example.org/doc/g"
# the endpoint's read mix: the count read and the three templates
READS = {
    "count": "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }",
    "chain": "SELECT ?y ?o ?c WHERE { <ent:person/tina_okafor> <rel:knows> ?y . "
             "?y <rel:works_at> ?o . ?o <rel:located_in> ?c }",
    "optional": "SELECT DISTINCT ?x ?a WHERE { ?x <rel:lives_in> <ent:city/geneva> "
                "OPTIONAL { ?x <rel:age> ?a } FILTER(!BOUND(?a) || ?a >= 40) }",
    "construct": "CONSTRUCT { ?x <urn:colleague> ?y } WHERE { "
                 "?x <rel:works_at> <ent:org/cyberdyne_analytics> . "
                 "?y <rel:works_at> <ent:org/cyberdyne_analytics> }",
}
# classes the repeated round compiles: only the chain read's two. The
# endpoint's row cap (a LIMIT) is pushed through that query's label
# left joins into its whole-stage code, and Spark names each LIMIT's
# counter variable from a JVM-wide sequence, so that class is new at
# every planning, whatever the cache size.
REPEAT_COMPILES = 2


def _nquads_doc() -> str:
    lines = []
    for n in range(8):
        g = f" <{GRAPH}>" if n % 2 else ""
        o = (f'"{n}"^^<http://www.w3.org/2001/XMLSchema#integer>' if n % 2
             else f'"label {n}"@en')
        lines.append(f"<http://example.org/s{n}> <http://example.org/p> {o}{g} .")
    return "\n".join(lines) + "\n"


def _compiles(spark) -> int:
    """Classes compiled by Janino in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _round(spark, gaz, root: str, doc: str, compiles: dict) -> dict:
    """One round of every write path and read; ``compiles`` gets the
    classes each operation compiled."""

    def run(name, op):
        before = _compiles(spark)
        out = op()
        compiles[name] = _compiles(spark) - before
        return out

    eng = KgEngine(spark, root)
    built = run("build", lambda: eng.build(
        transcripts_df(spark, BASE_CONVS, seed=17), gaz, input_sig="codegen:17"))
    appended = run("append", lambda: eng.append(
        transcripts_df(spark, APPEND_CONVS, seed=17, conv_offset=BASE_CONVS), gaz))
    loaded = run("LOAD", lambda: eng.update(f"LOAD <file://{doc}>"))
    deleted = run("DELETE WHERE", lambda: eng.update(
        f"DELETE WHERE {{ GRAPH <{GRAPH}> {{ ?s ?p ?o }} }}"))
    reads = {
        name: run(name, lambda q=q, name=name: (
            results_ntriples(eng.sql(q, with_kinds=True)) if name == "construct"
            else results_json(eng.sql(q, with_kinds=True))))
        for name, q in READS.items()
    }
    return {"built": built["resolved_triples"],
            "appended": appended["appended_quads"],
            "loaded": loaded, "deleted": deleted, "reads": reads}


@pytest.fixture(scope="module")
def gaz(spark):
    return spark.createDataFrame(
        build_gazetteer(), "alias string, entity_id string, kind string"
    ).select("alias", "entity_id")


def test_repeated_round_reuses_compiled_classes(spark, gaz, tmp_path):
    doc = tmp_path / "doc.nq"
    doc.write_text(_nquads_doc())
    first = _round(spark, gaz, str(tmp_path / "kg1"), str(doc), {})
    before, per_op = _compiles(spark), {}
    second = _round(spark, gaz, str(tmp_path / "kg2"), str(doc), per_op)
    total = _compiles(spark) - before
    assert total == REPEAT_COMPILES, f"compiles per operation: {per_op}"
    assert second == first
    assert first["loaded"] == {"inserted": 8, "deleted": 0}
    assert first["deleted"] == {"inserted": 0, "deleted": 4}
    assert all(len(first["reads"][n]["results"]["bindings"]) > 0
               for n in ("count", "chain", "optional"))
    assert first["reads"]["construct"].count("<urn:colleague>") > 0
