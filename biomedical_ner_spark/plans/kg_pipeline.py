"""The end-to-end KG construction DAG (north rule, BASELINE.json):

  repos(repo, path, commit, lang, content)
    -> [extract]      mentions (fused Arrow tokenize -> BIO tag -> span merge)
    -> [link]         + cui/link_score vs broadcast alias dict
    -> [canonicalize] salted counts + connected components -> canonical_id
    -> [triples]      co-occurrence (subj, pred, obj) with verb rule
    -> [materialize]  entities + relations tables, type-bucket partitioned

Invariants & ops story:
  * per-row content sha256 (P14) computed at ingest, carried through every
    stage and re-verified after every stage's write; per-bucket sha_ok
    recorded in the manifest.
  * resumable: work is hash-bucketed by (repo, path, commit).  One stage
    runner (run_kg_pipeline's ``stage``) runs all three stages: it writes
    the pending buckets as bucket-partitioned parquet with dynamic
    partition overwrite (idempotent per bucket), checks them with one
    grouped query (rows in/out + sha) and appends per-bucket counter rows
    to the manifest; a restart recomputes only buckets missing their
    manifest row.
  * skew: canonical-id aggregation uses salted two-phase counts; the
    co-occurrence self-join relies on bounded per-doc mention counts
    (<= max_seq_len) + AQE skew splitting.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import spans
from ..operators.canonicalize import canonical_entities, salted_counts
from ..operators.linking import link_mentions
from ..operators.triples import triples as make_triples
from ..sources.repos import repo_doc_id, with_content_sha
from . import manifest as mf

STAGES = ("mentions", "linked", "graph")


def _dyn_overwrite(df: DataFrame, path: str,
                   files_per_bucket: int = 1,
                   n_buckets: int | None = None) -> None:
    (
        df.sparkSession.conf
        .set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    # cluster rows by bucket before the partitioned write: without this a
    # 128-partition upstream writes up to 128 files into EVERY bucket dir
    # (2048 tiny files, 4x the bytes from lost row-group clustering, and
    # every downstream stage pays the open/footer cost; measured 97s -> 35s
    # on the 20k-file stress).
    #
    # files_per_bucket=1 (default): one file per bucket — n_buckets is the
    # resume granularity AND the write parallelism.  At scale the big
    # relations stream makes that cap the dominant wall (the 1M-file run
    # spends ~55% of stage-3 in this exchange+write), so files_per_bucket>1
    # adds a doc-derived sub-bucket to the clustering key: write
    # parallelism becomes ~n_buckets x files_per_bucket while resume
    # granularity (the bucket dir) and row content are untouched.  The
    # sub-bucket is xxhash64(doc_id)-derived — content-stable, so retries
    # land rows in the same task and dynamic overwrite stays idempotent
    # per bucket.  The partition count is EXPLICIT (n_buckets x
    # files_per_bucket): an expression-only repartition lets AQE coalesce
    # the shuffle read back down when partitions are small, silently
    # undoing the sharding.
    if files_per_bucket > 1 and n_buckets is None:
        # a silent fall-through to the unsharded write would hand a caller
        # requesting sharding neither sharding nor an error (ADVICE r5)
        raise ValueError(
            "files_per_bucket > 1 requires n_buckets (the explicit "
            "partition count n_buckets * files_per_bucket keeps AQE from "
            "coalescing the sharding away)")
    if files_per_bucket > 1:
        clustered = df.repartition(
            n_buckets * files_per_bucket,
            F.col("bucket"),
            F.pmod(F.xxhash64("doc_id"), F.lit(files_per_bucket)),
        )
    else:
        clustered = df.repartition(F.col("bucket"))
    clustered.write.mode("overwrite").partitionBy("bucket").parquet(path)


def prepare_input(repos: DataFrame, n_buckets: int,
                  wide_ids: bool = False) -> DataFrame:
    """Attach doc_id + resume bucket.

    ``wide_ids``: the default 64-bit xxhash64 doc_id expects ~n^2/2^65
    birthday collisions — ~27k at the 10^12-file design scale, where two
    distinct files sharing a doc_id would cross-wire their mentions.
    wide_ids=True switches to the 128-bit md5 hex key (expected
    collisions ~1e-15 at 10^12 rows); every downstream join/groupBy is
    key-type-agnostic.  Default stays 64-bit for cross-round output
    determinism at test scale.

    The md5 input is the JSON of the key struct (nulls kept), not a
    separator-joined concat: concat_ws silently drops NULL fields (so
    (NULL, 'x', c) and ('x', NULL, c) collide) and a separator byte
    appearing inside a field shifts boundaries.  JSON escaping frames
    every field unambiguously and keeps NULL distinct from '' — the
    collision guard holds for arbitrary key values.

    The 64-bit branch needs its own NULL handling, shared with the
    stream: sources.repos.repo_doc_id.  (The bucket key keeps raw
    xxhash64: bucket collisions are by-design harmless — pmod(n_buckets)
    collapses everything anyway.)"""
    r = with_content_sha(repos)
    if wide_ids:
        doc_id = F.md5(F.to_json(
            F.struct("repo", "path", "commit"),
            {"ignoreNullFields": "false"}))
    else:
        doc_id = repo_doc_id()
    r = r.withColumn("doc_id", doc_id).withColumn(
        "bucket",
        F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(n_buckets)).cast("int"),
    )
    return r




def _bucket_checks(part: DataFrame, written: DataFrame,
                   src_shas: DataFrame) -> DataFrame:
    """(bucket, rows_in, rows_out, sha_ok) for a stage's pending buckets,
    in ONE grouped query: rows_in counts the stage input, rows_out the
    re-read output, and sha_ok holds iff every output content_sha is the
    sha of an input document (P14).  The output side is reduced to
    per-(bucket, content_sha) counts before the sha join, so the join sees
    one row per document, not one per mention or relation."""
    rows_out = (
        written.groupBy("bucket", "content_sha")
        .agg(F.count(F.lit(1)).alias("rows_out"))
        .join(src_shas, "content_sha", "left")
        .select("bucket", F.lit(0).alias("rows_in"), "rows_out",
                F.col("known").isNotNull().alias("known"))
    )
    rows_in = part.select("bucket", F.lit(1).alias("rows_in"),
                          F.lit(0).alias("rows_out"),
                          F.lit(True).alias("known"))
    return rows_in.unionByName(rows_out).groupBy("bucket").agg(
        F.sum("rows_in").alias("rows_in"),
        F.sum("rows_out").alias("rows_out"),
        F.bool_and("known").alias("sha_ok"),
    )


def _relations(spark: SparkSession, src: DataFrame, linked: DataFrame,
               out_dir: str) -> DataFrame:
    """Stage 3 body: canonicalize, write the entities table, and return
    the relations stream.  It reads the WHOLE linked table, not just the
    pending buckets: entities are global, so a resume rewrites every
    relations bucket to stay consistent with them."""
    canon = canonical_entities(
        linked, spark, checkpoint_dir=f"{out_dir}/cc_rounds")
    lm = linked.join(canon, "cui")
    # entities table: canonical id, surface stats (salted: hot surfaces)
    ent_counts = salted_counts(lm, "canonical_id").withColumnRenamed(
        "n", "n_mentions"
    )
    entities = (
        lm.groupBy("canonical_id")
        .agg(
            F.min("cui").alias("cui"),
            # deterministic across runs/retries (resume invariant):
            # most frequent type, ties broken by lowest value
            F.mode("type", True).alias("entity_type"),
            F.min("text").alias("canonical_text"),
            F.round(F.avg("link_score"), 6).alias("avg_link_score"),
        )
        .join(ent_counts, "canonical_id")
    )
    entities.write.mode("overwrite").parquet(f"{out_dir}/entities")

    docs_toks = spans.doc_tokens(
        src.select("doc_id", "bucket", "content_sha",
                   F.col("content").alias("text"))
    ).select("doc_id", "bucket", "content_sha", "tokens")
    trip = make_triples(
        docs_toks,
        lm.select("doc_id", "text", "type",
                  "start_position", "end_position"),
        scope_cols=["doc_id"],
    )
    # re-attach canonical ids + sha for the relations table.  Mention
    # start positions are unique per doc (span merge emits
    # non-overlapping spans), so the per-doc (start -> canonical_id)
    # MAP joins the triple stream ONCE on doc_id and resolves both
    # endpoints with element_at — one shuffle of the (large) triple
    # stream instead of two (doc_id, start) equi-joins.  The map rows
    # are bounded by mentions-per-doc (<= max_seq_len).  The doc's
    # bucket + content_sha ride along in the SAME one-row-per-doc
    # aggregate (lm carries both, constant per doc), so there is no
    # second corpus-sized join back to src: the triple stream — the
    # largest stream in the pipeline — shuffles exactly once here.
    # At test scale AQE broadcasts the map side either way; at 100 TB
    # the dropped src join-back was a full extra shuffle.
    # per-(doc, start) min first: under a 64-bit doc_id collision two
    # documents share a group and would duplicate a start key, which
    # map_from_entries turns into a stage-killing DUPLICATED_MAP_KEY —
    # the deterministic min degrades to the documented cross-wire
    # instead (and wide_ids=True avoids collisions entirely)
    pos_entries = lm.groupBy("doc_id", "start_position").agg(
        F.min("canonical_id").alias("_cid"),
        F.min("bucket").alias("_bkt"),
        F.min("content_sha").alias("_sha"))
    pos_map = pos_entries.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("start_position", "_cid"))
        ).alias("_cmap"),
        F.min("_bkt").alias("bucket"),
        F.min("_sha").alias("content_sha"),
    )
    return (
        trip
        .join(pos_map, "doc_id")
        .withColumn("subj_cui", F.element_at("_cmap", F.col("subj_start")))
        .withColumn("obj_cui", F.element_at("_cmap", F.col("obj_start")))
        .select(
            "subj_cui", "pred", "obj_cui", "subj_text", "obj_text",
            "subj_type", "obj_type", "doc_id", "content_sha", "bucket",
        )
    )


def run_kg_pipeline(
    spark: SparkSession,
    repos: DataFrame,
    out_dir: str,
    run_id: str = "run-1",
    n_buckets: int = 8,
    resume: bool = True,
    wide_ids: bool = False,
    files_per_bucket: int | str = "auto",
) -> dict:
    """Run (or resume) the full pipeline; returns summary counters.

    Extraction always runs the fused Arrow path
    (spans.extract_mentions_arrow: Python-re semantics on arbitrary
    unicode, the same path the stream runs).  wide_ids=True uses 128-bit
    doc ids (see prepare_input — the 10^12-file collision guard).
    files_per_bucket: write-parallelism multiplier for the bucketed sinks
    (see _dyn_overwrite) — 1 keeps the one-file-per-bucket layout;
    "auto" (the default) sizes it so write tasks ~= 4x the cluster's
    default parallelism, the repo's JVM-stage partitioning rule.  The
    isolated 38.9M-row write A/B (BASELINE.md, "Bucketed-write sharding
    knob"; 1M files) showed the one-file-per-bucket write is
    straggler-bound at n_buckets tasks: 17.6-43 s at 32 tasks vs
    7.6-8.6 s at 128 on the same input and burns — task granularity, not
    IO bandwidth, is the cap.  Row content is identical under every
    setting.

    Every stage goes through one runner, ``stage`` below, which owns the
    resume protocol: the manifest is read once, up front, for the done
    buckets of all three stages (a run only appends rows for stages it
    has finished, so the up-front read equals a per-stage one).
    """
    if files_per_bucket == "auto":
        fpb = max(
            1, 4 * spark.sparkContext.defaultParallelism // n_buckets)
    else:
        fpb = int(files_per_bucket)
    manifest_path = f"{out_dir}/manifest"
    src = prepare_input(repos, n_buckets, wide_ids=wide_ids).persist()
    src_shas = src.select(
        "content_sha", F.lit(True).alias("known")).distinct()
    done = mf.done_by_stage(spark, manifest_path, run_id) if resume else {}
    summary: dict = {"run_id": run_id, "stages": {}, "stage_walls": {}}

    def stage(name: str, table: str, inp: DataFrame, build,
              rows_kept: bool = False,
              also_count: tuple[str, ...] = ()) -> DataFrame:
        """Run stage ``name`` over its pending buckets (no manifest row
        yet) and return its whole re-read ``table``.  ``build`` maps the
        pending part of ``inp`` to the output frame; it is written with a
        per-bucket dynamic overwrite, checked by one _bucket_checks query
        (``rows_kept`` also requires rows_in == rows_out per bucket) and
        recorded as one manifest row per pending bucket.  The wall covers
        the stage plus the summary counts of ``table`` and
        ``also_count``."""
        t0 = time.time()
        path = f"{out_dir}/{table}"
        pending = sorted(set(range(n_buckets)) - done.get(name, set()))
        if pending:
            part = inp.where(F.col("bucket").isin(pending))
            _dyn_overwrite(build(part), path, files_per_bucket=fpb,
                           n_buckets=n_buckets)
            written = spark.read.parquet(path).where(
                F.col("bucket").isin(pending))
            # seed zero rows for every pending bucket: a bucket with no
            # docs (or no rows at a later stage) must still get its
            # manifest row, else it stays "pending" forever and every
            # resume reprocesses it
            in_c, out_c, sha_ok = {b: 0 for b in pending}, {}, {}
            for r in _bucket_checks(part, written, src_shas).collect():
                in_c[r.bucket], out_c[r.bucket] = r.rows_in, r.rows_out
                sha_ok[r.bucket] = r.sha_ok and (
                    not rows_kept or r.rows_in == r.rows_out)
            mf.append_rows(
                spark, manifest_path,
                mf.stage_counters(run_id, name, in_c, out_c, sha_ok),
            )
        for t in (table, *also_count):
            summary["stages"][t] = spark.read.parquet(
                f"{out_dir}/{t}").count()
        summary["stage_walls"][name] = round(time.time() - t0, 2)
        return spark.read.parquet(path)

    mentions = stage(
        "mentions", "mentions", src,
        # meta rides through the Arrow crossing (keep_cols) — the old
        # join-back of the mention stream to a per-doc meta projection
        # was a corpus-sized shuffle on both sides at scale
        lambda part: spans.extract_mentions_arrow(
            part, text_col="content", id_col="doc_id",
            sha_col="content_sha",
            keep_cols=["bucket", "repo", "path", "commit", "lang"],
        ))
    linked = stage(
        "linked", "linked", mentions,
        lambda part: link_mentions(part, spark, text_col="text"),
        rows_kept=True)
    stage("graph", "relations", linked,
          lambda _part: _relations(spark, src, linked, out_dir),
          also_count=("entities",))
    summary["manifest"] = mf.read_manifest(spark, manifest_path).where(
        F.col("run_id") == run_id
    ).count()
    src.unpersist()
    return summary
