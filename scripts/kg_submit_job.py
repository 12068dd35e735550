"""spark-submit entry point for the KG-construction pipeline.

Cluster launch (north rule):

    zip -r /tmp/kg_pkg.zip wikidata_sparql_history_spark
    spark-submit --py-files /tmp/kg_pkg.zip \
        [--master spark://... --num-executors N ...] \
        scripts/kg_submit_job.py \
        --input /path/to/transcripts_parquet --output /path/out \
        [--candidates DICT_PARQUET --aliases ALIAS_PARQUET] \
        [--resume] [--n-synth 1000]

On a real cluster the SparkSession comes from the submit config; this
script only declares the job. It always builds with the builtin
(JVM-only) extractor, as `cli --build` does. `--candidates` /
`--aliases` are the linking dictionary and the alias edges; without
them the build is unlinked (raw mention terms, no statement tables).
`--n-synth` synthesizes a deterministic corpus instead of reading
--input, and links it against the synthetic dictionaries unless those
paths are given (smoke mode).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet dir")
    ap.add_argument("--output", required=True, help="output tables dir")
    ap.add_argument("--n-synth", type=int, default=0,
                    help="synthesize N conversations instead of --input")
    ap.add_argument("--resume", action="store_true",
                    help="skip stages whose output tables already exist")
    ap.add_argument("--candidates", help="linking dictionary parquet "
                    "(mention, entity_id, prior)")
    ap.add_argument("--aliases", help="alias edges parquet (src, dst)")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("kg-construct-submit").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from wikidata_sparql_history_spark import synth
    from wikidata_sparql_history_spark.pipeline.materialize import run_pipeline

    if args.n_synth:
        transcripts = synth.transcripts(spark, args.n_synth)
    elif args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        print("need --input or --n-synth", file=sys.stderr)
        return 2

    def dictionary(path, synthetic):
        if path:
            return spark.read.parquet(path)
        return synthetic(spark) if args.n_synth else None

    res = run_pipeline(
        spark,
        transcripts,
        args.output,
        candidates=dictionary(args.candidates, synth.candidate_dict),
        aliases=dictionary(args.aliases, synth.alias_edges),
        resume=args.resume,
        use_builtin_extractor=True,
    )
    print(json.dumps({
        "stages_run": res.stages_run,
        "stages_skipped": res.stages_skipped,
        "out_dir": res.out_dir,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
