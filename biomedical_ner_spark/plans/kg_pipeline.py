"""The end-to-end KG construction DAG (north rule, BASELINE.json):

  repos(repo, path, commit, lang, content)
    -> [extract]      mentions (tokenize -> BIO tag -> span merge)
    -> [link]         + cui/link_score vs broadcast alias dict
    -> [canonicalize] salted counts + connected components -> canonical_id
    -> [triples]      co-occurrence (subj, pred, obj) with verb rule
    -> [materialize]  entities + relations tables, type-bucket partitioned

Invariants & ops story:
  * per-row content sha256 (P14) computed at ingest, carried through every
    stage, re-verified at the sink; per-bucket sha_ok recorded in the
    manifest.
  * resumable: work is hash-bucketed by (repo, path, commit); each stage
    writes bucket-partitioned parquet with dynamic partition overwrite
    (idempotent per bucket) and appends per-bucket counter rows to the
    manifest; a restart recomputes only buckets missing their manifest row.
  * skew: canonical-id aggregation uses salted two-phase counts; the
    co-occurrence self-join relies on bounded per-doc mention counts
    (<= max_seq_len) + AQE skew splitting.
"""

from __future__ import annotations

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


def _counts_by_bucket(df: DataFrame) -> dict[int, int]:
    return {
        r.bucket: r.n
        for r in df.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    }


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


def run_kg_pipeline(
    spark: SparkSession,
    repos: DataFrame,
    out_dir: str,
    run_id: str = "run-1",
    n_buckets: int = 8,
    resume: bool = True,
    exact_parity: bool = True,
    wide_ids: bool = False,
    files_per_bucket: int | str = "auto",
) -> dict:
    """Run (or resume) the full pipeline; returns summary counters.

    exact_parity=True routes extraction through the fused Arrow path
    (Python-re semantics on arbitrary unicode); False uses the pure-JVM
    window path (identical output on ASCII corpora, higher throughput).
    wide_ids=True uses 128-bit doc ids (see prepare_input — the 10^12-file
    collision guard).
    files_per_bucket: write-parallelism multiplier for the bucketed sinks
    (see _dyn_overwrite) — 1 keeps the one-file-per-bucket layout;
    "auto" (the default) sizes it so write tasks ~= 4x the cluster's
    default parallelism, the repo's JVM-stage partitioning rule.  The
    isolated 38.9M-row write A/B (scripts/ab_relations_write.py, 1M
    files) showed the one-file-per-bucket write is straggler-bound at
    n_buckets tasks: 17.6-43 s at 32 tasks vs 7.6-8.6 s at 128 on the
    same input and burns — task granularity, not IO bandwidth, is the
    cap.  Row content is identical under every setting.
    """
    if files_per_bucket == "auto":
        fpb = max(
            1, 4 * spark.sparkContext.defaultParallelism // n_buckets)
    else:
        fpb = int(files_per_bucket)
    manifest_path = f"{out_dir}/manifest"
    src = prepare_input(repos, n_buckets, wide_ids=wide_ids).persist()
    keep = ["doc_id", "bucket", "repo", "path", "commit", "lang", "content_sha"]

    import time as _time

    all_buckets = set(range(n_buckets))
    summary: dict = {"run_id": run_id, "stages": {}, "stage_walls": {}}
    _t0 = _time.time()

    # ---- stage 1: mentions -------------------------------------------------
    done = mf.done_buckets(spark, manifest_path, run_id, "mentions") if resume else set()
    pending = sorted(all_buckets - done)
    if pending:
        part = src.where(F.col("bucket").isin(pending))
        if exact_parity:
            # meta rides through the Arrow crossing (keep_cols) — the old
            # join-back of the mention stream to a per-doc meta projection
            # was a corpus-sized shuffle on both sides at scale
            m = spans.extract_mentions_arrow(
                part, text_col="content", id_col="doc_id",
                sha_col="content_sha",
                keep_cols=["bucket", "repo", "path", "commit", "lang"],
            )
        else:
            m = spans.mentions(part, text_col="content", keep_cols=keep)
        _dyn_overwrite(m, f"{out_dir}/mentions", files_per_bucket=fpb,
                       n_buckets=n_buckets)
        written = spark.read.parquet(f"{out_dir}/mentions").where(
            F.col("bucket").isin(pending)
        )
        # seed zero rows for every pending bucket: a bucket with no docs
        # (or no rows at a later stage) must still get its manifest row,
        # else it stays "pending" forever and every resume reprocesses it
        in_c = {b: 0 for b in pending} | _counts_by_bucket(part)
        out_c = _counts_by_bucket(written)
        # sha invariant: every mention's content_sha must exist in the input
        bad = (
            written.select("bucket", "content_sha").distinct()
            .join(
                src.select("content_sha").distinct(), "content_sha", "left_anti"
            )
        )
        bad_b = {r.bucket for r in bad.select("bucket").distinct().collect()}
        sha_ok = {b: b not in bad_b for b in pending}
        mf.append_rows(
            spark, manifest_path,
            mf.stage_counters(run_id, "mentions", in_c, out_c, sha_ok),
        )
    mentions_df = spark.read.parquet(f"{out_dir}/mentions")
    summary["stages"]["mentions"] = mentions_df.count()
    summary["stage_walls"]["mentions"] = round(_time.time() - _t0, 2)
    _t0 = _time.time()

    # ---- stage 2: linking --------------------------------------------------
    done = mf.done_buckets(spark, manifest_path, run_id, "linked") if resume else set()
    pending = sorted(all_buckets - done)
    if pending:
        part = mentions_df.where(F.col("bucket").isin(pending))
        linked = link_mentions(part, spark, text_col="text")
        _dyn_overwrite(linked, f"{out_dir}/linked",
                       files_per_bucket=fpb, n_buckets=n_buckets)
        in_c = {b: 0 for b in pending} | _counts_by_bucket(part)
        out_c = _counts_by_bucket(
            spark.read.parquet(f"{out_dir}/linked").where(
                F.col("bucket").isin(pending))
        )
        sha_ok = {b: in_c.get(b, 0) == out_c.get(b, 0) for b in pending}
        mf.append_rows(
            spark, manifest_path,
            mf.stage_counters(run_id, "linked", in_c, out_c, sha_ok),
        )
    linked_df = spark.read.parquet(f"{out_dir}/linked")
    summary["stages"]["linked"] = linked_df.count()
    summary["stage_walls"]["linked"] = round(_time.time() - _t0, 2)
    _t0 = _time.time()

    # ---- stage 3: canonicalize + triples + materialize ---------------------
    done = mf.done_buckets(spark, manifest_path, run_id, "graph") if resume else set()
    pending = sorted(all_buckets - done)
    if pending:
        canon = canonical_entities(
            linked_df, spark, checkpoint_dir=f"{out_dir}/cc_rounds"
        )
        lm = linked_df.join(canon, "cui")
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
        rel = (
            trip
            .join(pos_map, "doc_id")
            .withColumn("subj_cui", F.element_at("_cmap", F.col("subj_start")))
            .withColumn("obj_cui", F.element_at("_cmap", F.col("obj_start")))
            .select(
                "subj_cui", "pred", "obj_cui", "subj_text", "obj_text",
                "subj_type", "obj_type", "doc_id", "content_sha", "bucket",
            )
        )
        _dyn_overwrite(rel, f"{out_dir}/relations",
                       files_per_bucket=fpb, n_buckets=n_buckets)
        in_c = {b: 0 for b in pending} | _counts_by_bucket(
            linked_df.where(F.col("bucket").isin(pending)))
        rel_written = spark.read.parquet(f"{out_dir}/relations").where(
            F.col("bucket").isin(pending)
        )
        out_c = _counts_by_bucket(rel_written)
        bad = rel_written.select("bucket", "content_sha").distinct().join(
            src.select("content_sha").distinct(), "content_sha", "left_anti"
        )
        bad_b = {r.bucket for r in bad.select("bucket").distinct().collect()}
        sha_ok = {b: b not in bad_b for b in pending}
        mf.append_rows(
            spark, manifest_path,
            mf.stage_counters(run_id, "graph", in_c, out_c, sha_ok),
        )
    summary["stages"]["relations"] = spark.read.parquet(
        f"{out_dir}/relations"
    ).count()
    summary["stages"]["entities"] = spark.read.parquet(
        f"{out_dir}/entities"
    ).count()
    summary["stage_walls"]["graph"] = round(_time.time() - _t0, 2)
    summary["manifest"] = mf.read_manifest(spark, manifest_path).where(
        F.col("run_id") == run_id
    ).count()
    src.unpersist()
    return summary
