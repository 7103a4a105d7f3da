"""Deduplication operators over the `documents` table — the training-data
pipeline surface (exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding
near-dup).

Cross-engine determinism: every hash used in a value-checked path is
md5-hex (identical in Spark and DuckDB); xxhash64 only appears in
Spark-internal salting where no oracle comparison happens.

Scale notes: exact dedup is one hash-groupBy; MinHash/LSH turns the O(n^2)
pair space into per-(band, signature) buckets (shuffle key = bucket id,
skew-capped); the brute-force Jaccard join exists only as the small-scale
oracle for the LSH path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import SQL_TOKEN_PATTERN

N_BANDS = 8
ROWS_PER_BAND = 2  # signature length = N_BANDS * ROWS_PER_BAND = 16

# Default degenerate-bucket cap for the in-bucket pair expand (LSH /
# SimHash blocking).  A bucket of k docs materializes a k-element array in
# one aggregation row and emits k(k-1)/2 pair structs in a single
# projection, so an UNCAPPED default lets one pathological bucket (a boiler-
# plate page shared by millions of docs) OOM a task.  2000 docs -> <=2M pair
# structs (~32 MB) per bucket — safely within one task — while genuine
# near-dup buckets on deduped-first corpora stay far smaller.  Exact/oracle
# configurations opt out with max_bucket=None explicitly.
DEFAULT_MAX_BUCKET = 2000

# shard count for the capped two-level aggregation in _bounded_groups
N_BUCKET_SHARDS = 256


def _bounded_groups(df: DataFrame, group_cols: list[str], item,
                    max_bucket: int | None,
                    n_shards: int = N_BUCKET_SHARDS) -> DataFrame:
    """(group_cols..., items sorted ARRAY) per group with >1 item,
    dropping groups larger than ``max_bucket`` BEFORE any unbounded
    array exists.

    max_bucket=None: one groupBy + collect_list — the exact path (a
    group's full array forms in one aggregation row; oracle configs and
    pre-deduped corpora).

    Finite max_bucket: a naive post-agg size filter would still build the
    oversize group's k-element array in its single reducer row first, so
    the cap is enforced in TWO salted levels over one pass of the
    lineage.  Level 1 groups by (group, shard) with shard =
    pmod(xxhash64(item), n_shards) — content-derived, so retries re-shard
    identically — and drops shards above the cap; a group small enough to
    survive (k <= max_bucket) can never lose a shard (every shard of it
    is <= k <= cap), so kept groups are EXACT.  Level 2 regroups the
    <= n_shards bounded shard rows, drops groups whose total exceeds the
    cap, and only then flattens.  Memory bound: level-1 rows <=
    max(max_bucket, k/n_shards) items, level-2 rows <= n_shards *
    max_bucket items (~1-2 MB at the defaults) — the k^2/2 pair expand is
    capped absolutely, and the linear k-array funnel needs a single
    signature bucket of > n_shards * max_bucket (~512k) IDENTICALLY-
    banded docs (post exact-dedup) before a level-1 row grows past
    ~max_bucket elements, and even then only as k/256.  A monster group
    loses all (or nearly all) level-1 shards, so it vanishes instead of
    OOMing; the rare boundary shard that survives emits a tiny subset of
    an already-shed bucket — within the capped contract (recall on shed
    buckets is 0 anyway).  Cost vs the exact path: one extra shuffle of
    the (small) id/shard stream; the expensive upstream lineage still
    evaluates ONCE."""
    item_c = F.col(item) if isinstance(item, str) else item
    if max_bucket is None:
        return (
            df.groupBy(*group_cols)
            .agg(F.sort_array(F.collect_list(item_c)).alias("items"))
            .where(F.size("items") > 1)
        )
    s1 = (
        df.withColumn("_shard", F.pmod(F.xxhash64(item_c), F.lit(n_shards)))
        .groupBy(*group_cols, "_shard")
        .agg(F.collect_list(item_c).alias("_part"))
        .where(F.size("_part") <= max_bucket)
    )
    return (
        s1.groupBy(*group_cols)
        .agg(F.sum(F.size("_part")).alias("_n"),
             F.collect_list("_part").alias("_parts"))
        .where((F.col("_n") > 1) & (F.col("_n") <= max_bucket))
        .select(*group_cols,
                F.sort_array(F.flatten("_parts")).alias("items"))
    )


def _shingle_set(df: DataFrame, text_col: str, n: int
                 ) -> tuple[DataFrame, Column]:
    """(doc_id, toks) projection plus the per-doc ARRAY of distinct
    lowercased token n-grams over it — the one shingle construction
    behind _shingle_arrays and _shingles.

    Token shingling via array ops (narrow); `sequence` + `slice` builds the
    n-gram windows JVM-side without any UDF.

    Structure notes (r06), both load-bearing:

    * Short docs are guarded by slicing the window-index sequence to
      ``greatest(size(toks) - n + 1, 0)`` elements, NOT by a
      ``size(toks) >= n`` row filter: the filter predicate re-evaluated
      the whole tokenize regex a second time per row (filter pushdown
      substitutes the alias), and a CASE guard is worse still —
      CollapseProject/pushdown substituted the regex into the
      per-element slice() lambda, re-running it once per sequence
      element (~30x measured at sf1.0: minhash 4.1 s -> 127 s).  The
      sliced-sequence form keeps the plan at exactly ONE
      regexp_extract_all (A/B: 1.93 s vs 2.28 s on shingles+minhash16 at
      sf1.0; outputs identical — short docs yield empty arrays that
      explode drops).
    * `toks` must stay a multi-referenced alias in a SEPARATE projection
      — multiple non-cheap references are what stop CollapseProject from
      inlining the regex downstream."""
    toks = F.expr(
        f"regexp_extract_all(lower({text_col}), '{SQL_TOKEN_PATTERN}', 0)"
    )
    shs = F.expr(
        f"array_distinct(transform("
        f" slice(sequence(0, size(toks)), 1,"
        f"       greatest(size(toks) - {n} + 1, 0)),"
        f" i -> concat_ws(' ', slice(toks, i + 1, {n}))))"
    )
    return df.select("doc_id", toks.alias("toks")), shs


def _shingle_arrays(df: DataFrame, text_col: str = "text",
                    n: int = 3) -> DataFrame:
    """(doc_id, shs) — per-doc ARRAY of distinct lowercased token n-grams.

    Kept as the un-exploded form so callers needing per-doc shingle-set
    sizes read them as size(shs) with ZERO extra passes/shuffles
    (ngram_jaccard_pairs)."""
    d, shs = _shingle_set(df, text_col, n)
    return d.select("doc_id", shs.alias("shs"))


def _shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct lowercased token n-grams per doc.

    The generator argument is the FULL inline expression, never a named
    array column: exploding an attribute lets InferFiltersFromGenerate
    add `size(col) > 0`, and predicate pushdown then substitutes the
    whole shingle construction — tokenize regex inside the per-element
    slice() lambda included — into a scan-level filter (measured ~30x on
    minhash at sf1.0).  A non-cheap generator expression is skipped by
    that rule (SPARK-36715)."""
    d, shs = _shingle_set(df, text_col, n)
    return d.select("doc_id", F.explode(shs).alias("shingle"))


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: sha256(text) hash-groupBy; groups with >1 doc are dup
    sets.  Returns (content_sha, n_docs, min_doc_id keeper)."""
    return (
        docs.select("doc_id", F.sha2(F.col(text_col), 256).alias("content_sha"))
        .groupBy("content_sha")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text", n: int = 3,
                        threshold: float = 0.8,
                        max_df: int | None = None) -> DataFrame:
    """Brute-ish n-gram Jaccard: shingle-inverted-index join (only pairs
    sharing >=1 shingle are scored — never a cross join), then
    |A∩B| / (|A|+|B|-|A∩B|) >= threshold.  Oracle-checkable; the LSH path
    below is the scale path.

    ``max_df``: document-frequency cap on shingles feeding the pair join —
    a stop-shingle shared by k docs emits O(k^2) pairs, so at scale set
    max_df to drop the ubiquitous shingles from CANDIDATE GENERATION (an
    upper-bound-preserving heuristic for near-dup mining: true near-dups
    at threshold >= 0.8 still share many sub-cap shingles).  Doc sizes and
    the Jaccard numerator/denominator still use the FULL shingle sets, so
    scores stay exact for every surviving pair; only recall of pairs whose
    overlap is exclusively stop-shingles is affected.  Default None =
    exact (the DuckDB-oracle configuration)."""
    # (doc_id, sz, shingle) in ONE construction per side: sizes are read
    # array-side (size(shs), O(1) per exploded row), so no separate sizes
    # aggregate and no sizes joins — the r5 shape evaluated the whole
    # tokenize->shingle lineage FOUR times (two join sides + two sizes
    # legs).  The explode goes through an identity transform, NOT the
    # bare `shs` attribute: a HOF generator is skipped by
    # InferFiltersFromGenerate (SPARK-36715), so no size(shs)>0 predicate
    # gets pushed down and alias-substituted into a scan filter re-running
    # the shingle construction (the bare-attribute form measured ~6x
    # slower here).
    sh = _shingle_arrays(docs, text_col, n).select(
        "doc_id", F.size("shs").alias("sz"),
        F.explode(F.expr("transform(shs, s -> s)")).alias("shingle"))
    # inverted-index self-join (whole-stage-codegen pair stream), NOT a
    # groupBy(shingle) + in-bucket combination expand: the pair stream
    # here is ~50x the shingle stream (sum of df^2/2; 127M at sf1.0) and
    # the expand's nested-transform lambdas are interpreted per pair
    # struct — measured same-session r06 A/B (OPTIMIZATION_r06.md):
    # group-expand 36.5 s vs self-join-with-sizes 24.1 s vs r5
    # 4-evaluation shape 25.8 s.  The size-ratio prefilter is EXACT:
    # jaccard <= min(sz)/max(sz), so pairs with min < t*max can never pass
    # the threshold and their instances are dropped before the
    # aggregation (best 23.8 s).  The final filter compares the ROUNDED
    # jaccard, which reaches t from as low as t - 5e-7, so the prefilter
    # bound gets 1e-6 of slack: it may keep a pair the final filter
    # drops, never the reverse.
    def pair_instances(s: DataFrame) -> DataFrame:
        a = s.select(F.col("doc_id").alias("a"),
                     F.col("sz").alias("sz_a"), "shingle")
        b = s.select(F.col("doc_id").alias("b"),
                     F.col("sz").alias("sz_b"), "shingle")
        return a.join(b, "shingle").where(
            (F.col("a") < F.col("b"))
            & (F.least("sz_a", "sz_b")
               >= F.greatest("sz_a", "sz_b") * F.lit(threshold - 1e-6)))

    if max_df is None:
        common = pair_instances(sh).groupBy("a", "b", "sz_a", "sz_b").agg(
            F.count(F.lit(1)).alias("common"))
    else:
        # candidates from sub-cap shingles only: document frequency is
        # counted FIRST (a map-side-combined count, one row per shingle),
        # so no shingle's posting list is ever materialized and a
        # heavy-hitter shingle costs one counter, not a df-sized array;
        # the semi-join keeps each surviving shingle's fanout <= max_df.
        # Then the EXACT intersection is recomputed over the full sets for
        # just those pairs.
        sub_cap = (sh.groupBy("shingle").count()
                   .where((F.col("count") > 1) & (F.col("count") <= max_df))
                   .select("shingle"))
        cand = (pair_instances(sh.join(sub_cap, "shingle", "left_semi"))
                .select("a", "b", "sz_a", "sz_b").distinct())
        a = sh.select(F.col("doc_id").alias("a"), "shingle")
        b = sh.select(F.col("doc_id").alias("b"), "shingle")
        common = (
            cand.join(a, "a")
            .join(b, ["b", "shingle"])
            .groupBy("a", "b", "sz_a", "sz_b")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    return (
        common.withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def minhash_signatures(docs: DataFrame, text_col: str = "text", n: int = 3,
                       n_hashes: int = N_BANDS * ROWS_PER_BAND) -> DataFrame:
    """(doc_id, hash_idx, minhash): per hash function h_i, the minimum of
    md5(i || shingle) over the doc's shingles.  md5-hex min is a valid
    min-wise hash and is engine-portable for the DuckDB oracle.

    Shape: see minhash_signatures_wide; this is its stack() unpivot."""
    per_doc = minhash_signatures_wide(docs, text_col, n, n_hashes)
    stack_args = ", ".join(f"{i}, h{i}" for i in range(n_hashes))
    return per_doc.selectExpr(
        "doc_id",
        f"stack({n_hashes}, {stack_args}) AS (hash_idx, minhash)",
    )


def minhash_signatures_wide(docs: DataFrame, text_col: str = "text",
                            n: int = 3,
                            n_hashes: int = N_BANDS * ROWS_PER_BAND
                            ) -> DataFrame:
    """(doc_id, h0..h{n_hashes-1}): one row per doc with every min-hash as
    a column — the internal shape the banding consumes without any
    explode/regroup.

    All n_hashes md5s are computed INLINE on the doc-shingle stream
    (shingles are already distinct per doc via _shingles), then ONE
    groupBy(doc_id) takes the n_hashes mins map-side-combined.  No
    distinct-shingle dim anywhere: a dim table is the corpus vocabulary,
    which grows with the data — at 100 TB a broadcast of it cannot ship
    and even a shuffle join of it doubles the I/O.  16 md5s of a short
    string per row is pure codegen and strictly cheaper."""
    sh = _shingles(docs, text_col, n)
    return sh.groupBy("doc_id").agg(*[
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
        for i in range(n_hashes)
    ])


def _lsh_banded(docs: DataFrame, text_col: str, n: int, n_bands: int,
                rows_per_band: int) -> DataFrame:
    """(doc_id, band, bucket): band the WIDE minhash signature — band b
    holds hash indices {b, b+n_bands, ...} (the hash_idx %% n_bands rule,
    unchanged for the oracle), bucket = md5 of the band's sorted hashes."""
    n_hashes = n_bands * rows_per_band
    wide = minhash_signatures_wide(docs, text_col, n, n_hashes)
    band_structs = ", ".join(
        "named_struct('band', {b}, 'bucket', md5(concat_ws('|', "
        "sort_array(array({cols})))))".format(
            b=b,
            cols=", ".join(f"h{i}" for i in range(n_hashes)
                           if i % n_bands == b),
        )
        for b in range(n_bands)
    )
    return wide.select(
        "doc_id",
        F.explode(F.expr(f"array({band_structs})")).alias("e"),
    ).select("doc_id", "e.band", "e.bucket")


def lsh_candidate_pairs(docs: DataFrame, text_col: str = "text", n: int = 3,
                        n_bands: int = N_BANDS,
                        rows_per_band: int = ROWS_PER_BAND,
                        max_bucket: int | None = DEFAULT_MAX_BUCKET
                        ) -> DataFrame:
    """MinHash-LSH near-dup candidates: band the signature, group docs by
    (band, band-signature bucket), emit each bucket's distinct pairs.

    Band b's bucket is computed straight from the WIDE signature row
    (band b holds hash indices {b, b+n_bands, ...} — the hash_idx %%
    n_bands rule, unchanged for the oracle).  Pairs come from ONE
    groupBy(band, bucket) + an in-bucket combination expand — not a
    bucket self-join, which would evaluate the whole shingle->signature
    lineage twice (Spark does not reuse the exchange across the join's
    two renamed sides; measured 1.7x slower at sf0.1).

    ``max_bucket`` drops degenerate buckets larger than the cap (k docs in
    one bucket emit k^2/2 pairs whichever formulation is used).  Identical
    documents belong to the exact-dedup stage upstream, so at 100 TB a cap
    in the thousands only sheds pathological buckets.  The DEFAULT is the
    finite DEFAULT_MAX_BUCKET (scale-safe); pass None explicitly for the
    exact/oracle configuration.  Audit what a cap would shed with
    oversize_buckets()."""
    banded = _lsh_banded(docs, text_col, n, n_bands, rows_per_band)
    grouped = _bounded_groups(
        banded, ["band", "bucket"], "doc_id", max_bucket
    ).withColumnRenamed("items", "ids")
    # ids is sorted, so pairing each x with the ids AFTER it yields a < b
    return (
        grouped.select(F.explode(F.expr(
            "flatten(transform(ids, (x, i) ->"
            " transform(slice(ids, i + 2, size(ids) - i - 1),"
            " y -> struct(x AS a, y AS b))))"
        )).alias("p"))
        .select("p.a", "p.b")
        .distinct()
    )


def oversize_buckets(docs: DataFrame, text_col: str = "text", n: int = 3,
                     n_bands: int = N_BANDS,
                     rows_per_band: int = ROWS_PER_BAND,
                     max_bucket: int = DEFAULT_MAX_BUCKET) -> DataFrame:
    """Audit companion to lsh_candidate_pairs' cap: (band, bucket, n_docs)
    for every bucket the default cap would shed — a cheap aggregate to run
    (or sink to a side table) when capped recall needs accounting, instead
    of silently reading 'covered everything'.

    Boundary case: _bounded_groups enforces the cap per content-derived
    shard, so an oversize bucket whose shards ALL exceed the cap vanishes
    entirely, but a boundary shard that individually fits can survive and
    emit a small residual subset of the shed bucket.  A bucket listed here
    is therefore 'shed' in the sense that its recall is ~0, not that zero
    pairs from it can appear — the audit slightly overstates the shed set
    in that rare case."""
    banded = _lsh_banded(docs, text_col, n, n_bands, rows_per_band)
    return (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > max_bucket)
    )


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """(doc_id, simhash BIGINT): sign-sum over token md5 bit-vectors.

    Bit b of the fingerprint = 1 iff sum over tokens of (+1 if bit b of
    md5(token) else -1) > 0.  Pure JVM expressions: md5 hex -> conv to a
    64-bit int -> per-bit contribution via bit ops, aggregated with one
    groupBy(doc_id)."""
    toks = F.expr(
        f"regexp_extract_all(lower({text_col}), '{SQL_TOKEN_PATTERN}', 0)"
    )
    # hash each token INSTANCE inline and sum +-1 per bit in ONE
    # groupBy(doc_id): summing +-1 over instances equals count-weighting
    # distinct (doc, token) rows, so the former two-level
    # groupBy(doc_id, token) -> groupBy(doc_id) shape (which shuffled the
    # near-distinct token stream on a key the doc rollup then re-shuffled)
    # collapses to a single exchange of ~1 partially-aggregated row per
    # doc (guide §2.3: aggregate before you shuffle / §2.4).  A (token, h)
    # dim table is still wrong at 100 TB — the corpus vocabulary grows
    # unboundedly — and one md5 per instance is pure codegen.
    t = docs.select("doc_id", F.explode(toks).alias("token")).withColumn(
        "h",
        F.expr("cast(conv(substr(md5(token), 1, 15), 16, 10) AS BIGINT)"),
    )
    bit_sums = t.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {b}) & 1") == 1, F.lit(1))
                .otherwise(F.lit(-1))
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return bit_sums.select("doc_id", fp.cast("bigint").alias("simhash"))


def simhash_near_pairs(docs: DataFrame, text_col: str = "text",
                       bits: int = 32, max_hamming: int = 3,
                       max_bucket: int | None = DEFAULT_MAX_BUCKET
                       ) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on
    (max_hamming + 1)-way bit-block equality — the pigeonhole guarantees
    a pair within max_hamming shares at least one untouched block (the
    block count is derived from max_hamming, never silently
    under-provisioned) and no cross join exists.  Recall is exact for ANY
    max_hamming only under max_bucket=None (the oracle configuration);
    the finite default below sheds degenerate blocks, trading recall on
    pathological keys for bounded task memory.

    ``max_bucket``: same degenerate-block cap as lsh_candidate_pairs
    (finite by default — one hot bit-block key must not expand k^2/2 pair
    structs in a single task); None = exact, the oracle configuration."""
    s = simhash(docs, text_col, bits)
    n_blocks = max_hamming + 1
    if n_blocks > bits:
        raise ValueError(
            f"max_hamming={max_hamming} needs {n_blocks} blocks > {bits} "
            "fingerprint bits; raise bits or lower max_hamming")
    base = bits // n_blocks
    spans_ = [(i * base,
               base if i < n_blocks - 1 else bits - i * base)
              for i in range(n_blocks)]
    blocked = s.select(
        "doc_id", "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("blk"),
                    F.expr(f"(simhash >> {start}) & {(1 << width) - 1}")
                    .alias("key"),
                )
                for i, (start, width) in enumerate(spans_)
            ])
        ).alias("e"),
    ).select("doc_id", "simhash", "e.blk", "e.key")
    # in-bucket combination expand, carrying each doc's fingerprint in the
    # grouped struct so the hamming filter needs no join back (and the
    # simhash lineage is evaluated once — see lsh_candidate_pairs);
    # capped via the two-level salted aggregation (_bounded_groups) so a
    # degenerate bit-block key never funnels unbounded into one row
    grouped = _bounded_groups(
        blocked, ["blk", "key"], F.struct("doc_id", "simhash"), max_bucket
    ).withColumnRenamed("items", "ds")
    pairs = (
        grouped.select(F.explode(F.expr(
            "flatten(transform(ds, (x, i) ->"
            " transform(slice(ds, i + 2, size(ds) - i - 1),"
            " y -> struct(x.doc_id AS a, y.doc_id AS b,"
            " x.simhash AS sh_a, y.simhash AS sh_b))))"
        )).alias("p"))
        .select("p.a", "p.b", "p.sh_a", "p.sh_b")
        .distinct()
    )
    return (
        pairs.withColumn("hamming", F.expr("bit_count(sh_a ^ sh_b)"))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def embedding_near_dups(embeddings: DataFrame, threshold: float = 0.95,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        n_planes: int = 8, n_tables: int = 4,
                        seed: int = 42,
                        max_bucket: int | None = DEFAULT_MAX_BUCKET
                        ) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked on random-hyperplane LSH
    buckets (similarity.lsh_candidates): only pairs sharing >=1 sign-bucket
    are scored — never a cross join.  APPROXIMATE: recall < 1 by LSH design
    (for cos >= 0.95 with 8 planes x 4 tables, expected pair recall ~0.9;
    raise n_tables for higher recall).  Scoring is one numpy pass per Arrow
    batch (similarity.cosine_pandas)."""
    from pyspark.sql.types import DoubleType

    from .similarity import _cos_pd_fn, lsh_candidates

    cand = lsh_candidates(embeddings, n_planes, n_tables, seed,
                          id_col, vec_col, max_bucket=max_bucket)
    va = embeddings.select(F.col(id_col).alias("a"),
                           F.col(vec_col).alias("va"))
    vb = embeddings.select(F.col(id_col).alias("b"),
                           F.col(vec_col).alias("vb"))
    # nondeterministic marking (guide §4.4): the threshold filter sits on
    # the UDF output, and the optimizer otherwise pushes it below the
    # projection and evaluates the cosine UDF TWICE (two ArrowEvalPython
    # nodes in the r06 before-plan).  The value is deterministic; the flag
    # only stops the optimizer from duplicating the expensive expression.
    cos_udf = F.pandas_udf(_cos_pd_fn, returnType=DoubleType()) \
        .asNondeterministic()
    return (
        cand.join(va, "a").join(vb, "b")
        .withColumn("cos", F.round(cos_udf(F.col("va"), F.col("vb")), 6))
        .where(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )
