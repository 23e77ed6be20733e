"""hbase_rdf_spark — a from-scratch PySpark-native KG-construction engine.

Capability-equivalent rebuild of pgroth/hbase-rdf (an RDF quad store on
HBase, reference at /root/reference) as an idiomatic Spark pipeline:

    transcripts → EXTRACT → LINK → CANON → ENCODE → MATERIALIZE → QUERY

The reference's six permutation-sorted HBase tables
(reference: schema/HBPrefixMatchSchema.java:41) become three sorted
columnar triple indexes (SPO / POS / OSP); its MapReduce dictionary
encoding (reference: bulkload/QuadBreakDown.java) becomes hash-based id
assignment + dictionary DataFrames; its index-nested-loop SPARQL engine
(reference: nl/vu/jena/) becomes set-oriented DataFrame joins with a
greedy BGP pre-planner.

Subpackages
-----------
operators/   KG dataflow stages: extraction, linking, connected components
sources/     synthetic transcript corpus, N-Triples parser, word-trigram
             triples over document/event tables (wordkg)
functions/   column-level helpers: term encoding, ids, numeric inlining
plans/       triple-pattern routing (16 masks), BGP planner, SPARQL
streaming/   incremental append loader (S7 analog)
"""

__version__ = "0.1.0"

from hbase_rdf_spark.session import get_spark  # noqa: F401
