"""Run manifest: per-partition lineage + counters for resumable runs
(north rule; SURVEY.md §4.3.5).

Schema: (run_id, stage, bucket, rows_in, rows_out, sha_ok, ts).
A bucket is *done* for a stage iff a manifest row exists.  A run reads
the done buckets of every stage once, up front (done_by_stage); each
stage then reprocesses only pending = all-buckets minus done (J10), with
bucket-level dynamic-partition-overwrite making the data writes
idempotent.  rows_in/rows_out are the per-bucket row counts of the
stage's input and written output; sha_ok is false when an output row
carries a content_sha no input document has (or, for ``linked``, when
the bucket lost or gained rows).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = (
    "run_id STRING, stage STRING, bucket INT, rows_in BIGINT,"
    " rows_out BIGINT, sha_ok BOOLEAN, ts DOUBLE"
)


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    try:
        return spark.read.parquet(path)
    except Exception:
        return spark.createDataFrame([], MANIFEST_SCHEMA)


def done_by_stage(spark: SparkSession, path: str,
                  run_id: str) -> dict[str, set[int]]:
    """stage -> buckets with a manifest row for ``run_id``, in one read."""
    done: dict[str, set[int]] = {}
    for r in (read_manifest(spark, path).where(F.col("run_id") == run_id)
              .select("stage", "bucket").distinct().collect()):
        done.setdefault(r.stage, set()).add(r.bucket)
    return done


def append_rows(spark: SparkSession, path: str, rows: list[tuple]) -> None:
    if rows:
        spark.createDataFrame(rows, MANIFEST_SCHEMA).write.mode("append") \
            .parquet(path)


def stage_counters(run_id: str, stage: str, in_counts: dict[int, int],
                   out_counts: dict[int, int],
                   sha_ok: dict[int, bool]) -> list[tuple]:
    now = time.time()
    buckets = set(in_counts) | set(out_counts)
    return [
        (
            run_id, stage, int(b),
            int(in_counts.get(b, 0)), int(out_counts.get(b, 0)),
            bool(sha_ok.get(b, True)), now,
        )
        for b in sorted(buckets)
    ]
