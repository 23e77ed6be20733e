"""End-to-end walkthrough of every user-facing surface.

    python examples/demo.py            # ~2 min on local[8]

Builds a KG from a synthetic transcript corpus, then exercises pattern
scans, BGP joins, the SPARQL subset (SELECT/ASK/DESCRIBE/CONSTRUCT,
aggregates), incremental append, and index compaction — the same tour
a reference (hbase-rdf) user would take: bulk load, pattern retrieval,
SPARQL endpoints, incremental loader.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from hbase_rdf_spark.engine import KgEngine
    from hbase_rdf_spark.plans.patterns import TriplePattern
    from hbase_rdf_spark.session import get_spark
    from hbase_rdf_spark.sources.synthetic import build_gazetteer, transcripts_df

    spark = get_spark(app_name="kg-demo", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="kg_demo_")
    try:
        eng = KgEngine(spark, root)
        gaz = spark.createDataFrame(
            build_gazetteer(), "alias string, entity_id string, kind string"
        ).select("alias", "entity_id")

        print("== bulk build (800 conversations)")
        stats = eng.build(transcripts_df(spark, 800, seed=42), gaz, input_sig="demo")
        print(f"   triples={stats['resolved_triples']} terms={stats['distinct_terms']} "
              f"links={stats['links']}")

        print("== pattern scan: (?, rel:works_at, ?)  [?p? mask → POS index]")
        eng.scan(TriplePattern(p="rel:works_at")).show(3, truncate=False)

        print("== BGP join + numeric filter: who works somewhere and is over 60")
        eng.sql(
            "SELECT ?x ?y ?a WHERE { ?x <rel:works_at> ?y . "
            "?x <rel:age> ?a FILTER(?a > 60) }"
        ).show(3, truncate=False)

        print("== SPARQL: aggregate employer sizes")
        eng.sql(
            "SELECT ?org (COUNT(?p) AS ?n) WHERE "
            "{ ?p <rel:works_at> ?org } GROUP BY ?org "
            "ORDER BY DESC(?n) LIMIT 3"
        ).show(truncate=False)

        print("== SPARQL: ASK / DESCRIBE / CONSTRUCT")
        eng.sql("ASK { ?x <rel:ceo_of> ?y }").show()
        eng.sql("DESCRIBE <ent:org/acme_corp>").show(3, truncate=False)
        eng.sql(
            "CONSTRUCT { ?y <rel:employs> ?x } WHERE { ?x <rel:works_at> ?y }"
        ).show(3, truncate=False)

        print("== SPARQL 1.1 surface (round 2): OPTIONAL+!bound, VALUES,")
        print("   MINUS, EXISTS, BIND, paths, subqueries")
        eng.sql(
            "SELECT ?x WHERE { ?x <rel:works_at> ?y "
            "OPTIONAL { ?x <rel:ceo_of> ?c } FILTER(!bound(?c)) } LIMIT 3"
        ).show(truncate=False)
        eng.sql(
            "SELECT ?x ?tag WHERE { ?x <rel:works_at> ?y "
            'VALUES (?y ?tag) { (<ent:org/acme_corp> "acme") } }'
        ).show(3, truncate=False)
        eng.sql(
            "SELECT ?x WHERE { ?x <rel:works_at> ?y "
            "MINUS { ?x <rel:age> ?a } } LIMIT 3"
        ).show(truncate=False)
        eng.sql(
            "SELECT ?x (UCASE(STR(?x)) AS ?u) WHERE "
            "{ ?x <rel:ceo_of> ?y } LIMIT 3"
        ).show(truncate=False)
        eng.sql(
            "SELECT ?z WHERE { <ent:org/acme_corp> ^<rel:works_at>/<rel:age> ?z }"
            " LIMIT 3"
        ).show(truncate=False)
        eng.sql(
            "SELECT ?org ?n WHERE { ?x <rel:works_at> ?org "
            "{ SELECT ?org (COUNT(?p) AS ?n) WHERE "
            "{ ?p <rel:works_at> ?org } GROUP BY ?org } } LIMIT 3"
        ).show(truncate=False)

        print("== incremental append (idempotent)")
        r = eng.append(transcripts_df(spark, 100, seed=42, conv_offset=800), gaz)
        print(f"   appended: {r}")
        r2 = eng.append(transcripts_df(spark, 100, seed=42, conv_offset=800), gaz)
        print(f"   re-append (no-op): {r2}")

        print("== compaction (collapse append layers)")
        print(f"   {eng.store.compact_all(input_sig='demo2')}")
        print("done.")
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
