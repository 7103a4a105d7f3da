"""spark-submit main for the KG construction pipeline.

    spark-submit --py-files dist/biomedical_ner_spark.zip scripts/kg_job.py \
        --input synth:2000 --output /tmp/kg_out [--buckets 16]

``--input`` is either a parquet path with the repo-shaped schema
(sources/repos.py) or ``synth:N`` to synthesize N deterministic files.
The module imports biomedical_ner_spark from the shipped zip — it must not
assume a repo checkout on the executors: extraction runs the Arrow path,
so the Python workers import the package from the zip too.  Prints the
run manifest summary as one JSON line.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("bioner-kg-job").getOrCreate()

    from biomedical_ner_spark.plans.kg_pipeline import run_kg_pipeline
    from biomedical_ner_spark.sources.repos import synthesize_repos

    if args.input.startswith("synth:"):
        repos = synthesize_repos(spark, int(args.input.split(":", 1)[1]))
    else:
        repos = spark.read.parquet(args.input)

    summary = run_kg_pipeline(spark, repos, args.output,
                              n_buckets=args.buckets)
    print(json.dumps({"kg_job": "ok", **{
        k: v for k, v in summary.items()
        if isinstance(v, (int, float, str, bool))
    }}))
    spark.stop()


if __name__ == "__main__":
    main()
