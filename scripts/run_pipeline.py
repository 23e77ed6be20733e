"""Production entry point: KG construction over user data via spark-submit.

    spark-submit --master <cluster> --py-files hbase_rdf_spark.zip \
        scripts/run_pipeline.py \
        --transcripts /data/transcripts_parquet \
        --gazetteer  /data/gazetteer_parquet \
        --output     /warehouse/kg \
        [--input-sig  snapshot-2026-08-17] [--num-partitions N] \
        [--verify-invariant] [--append]

Input contract (BASELINE.json input_hint): transcripts parquet/Iceberg
with columns (conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp); gazetteer with (alias string, entity_id
string). ``--append`` runs the idempotent incremental path against an
existing store instead of a bulk build. Stats print as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--transcripts", required=True)
    ap.add_argument("--gazetteer", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--input-sig", default=None,
                    help="stable input identity (snapshot id); default: content hash")
    ap.add_argument("--num-partitions", type=int, default=None)
    ap.add_argument("--verify-invariant", action="store_true",
                    help="assert per-turn text equality after reshuffle")
    ap.add_argument("--append", action="store_true",
                    help="incremental append into an existing store")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from hbase_rdf_spark.session import ENGINE_CONF

    # master/conf come from spark-submit; only the engine confs here
    spark = SparkSession.builder.appName("kg-build").config(map=ENGINE_CONF).getOrCreate()
    transcripts = spark.read.parquet(args.transcripts)
    gazetteer = spark.read.parquet(args.gazetteer).select("alias", "entity_id")

    if args.append:
        from hbase_rdf_spark.operators.materialize import TripleStore
        from hbase_rdf_spark.streaming.incremental import append_batch

        stats = append_batch(TripleStore(spark, args.output), transcripts, gazetteer)
    else:
        from hbase_rdf_spark.pipeline import build_kg

        stats = build_kg(
            spark,
            transcripts,
            gazetteer,
            args.output,
            num_partitions=args.num_partitions,
            verify_invariant=args.verify_invariant,
            input_sig=args.input_sig,
        )
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
