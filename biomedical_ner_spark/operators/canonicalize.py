"""Canonicalization: collapse surface forms to canonical entities via
salted aggregation + connected components over alias-match edges.

North-rule stage (BASELINE.json): "salted groupBy + connected-components
over alias-match edges to collapse surface forms to CUIs, with explicit
repartitioning and skew salting on hot entities".

Connected components = alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) as a driver loop of
joins + min-aggregations — no GraphFrames dependency, ~80 LoC, each round
checkpointed to parquet (doubling as resume checkpoints, SURVEY.md §4.3.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .stats import collect_if_small

# ---------------------------------------------------------------------------
# Salted two-phase aggregation (SURVEY.md §4.3.2)
# ---------------------------------------------------------------------------


def salted_counts(df: DataFrame, key_col: str, n_salt: int = 16) -> DataFrame:
    """Two-phase count for skewed keys: partial agg per (key, salt) then
    final per key.  `salt = pmod(xxhash64(row-unique), n_salt)` spreads a
    hot key (e.g. the 'join' protein, ~1k mentions/500 docs here, far worse
    at web scale) over n_salt reducers before the final tiny agg.

    CAVEAT — do not copy this salt for non-algebraic aggregates:
    monotonically_increasing_id() is NONDETERMINISTIC under task retries
    (a re-run partition re-numbers its rows), which is harmless here only
    because a row's salt changes WHICH partial bucket it counts into, not
    the final SUM.  An agg where per-bucket membership matters (min/max of
    a salted pre-agg carrying other columns, first/any_value, collect_*)
    would become retry-dependent; derive the salt from row CONTENT
    (md5/xxhash64 of value columns) in that case."""
    salted = df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salt)),
    )
    partial = salted.groupBy(key_col, "_salt").agg(
        F.count(F.lit(1)).alias("_partial")
    )
    return partial.groupBy(key_col).agg(F.sum("_partial").alias("n"))


# ---------------------------------------------------------------------------
# Connected components (large-star / small-star)
# ---------------------------------------------------------------------------


def _canonical_edges(df: DataFrame, src: str, dst: str) -> DataFrame:
    return (
        df.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
    )


def _driver_union_find(rows, template: DataFrame) -> DataFrame:
    """Exact same (node, component=min-id) semantics as the star loop,
    solved on the driver from already-collected edge Rows.  ``template``
    supplies the node type for the (possibly empty) output frame so both
    physical paths return identically-typed results."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r["src"], r["dst"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the min label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    from pyspark.sql.types import StructField, StructType

    node_t = template.schema["src"].dataType
    schema = StructType([StructField("node", node_t),
                         StructField("component", node_t)])
    out = [(n, find(n)) for n in parent]
    return template.sparkSession.createDataFrame(out, schema)


def connected_components(
    edges: DataFrame,
    spark: SparkSession,
    checkpoint_dir: str | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) where component = min node id in the component.

    Size-gated: edge sets within the shared driver gate
    (``stats.collect_if_small``) are solved with driver union-find
    (identical min-label output, no per-round job overhead); larger
    graphs run the alternating large-star/small-star loop over string
    node ids.  Each distributed round is two join+min-agg passes;
    lineage is truncated every round via parquet checkpoint (resumable)
    or localCheckpoint.  Converges in O(log^2 n) rounds; a round cap
    guards skewed alias graphs (SURVEY.md §7 risks).
    """
    e = _canonical_edges(edges, "src", "dst")
    # the alias graph is ONTOLOGY-bounded (distinct CUIs), not
    # corpus-bounded, so it usually fits the gate; each distributed star
    # round costs two shuffles + a checkpoint + an action of fixed
    # overhead (measured: 6.4 s of rounds for an 11-component graph)
    rows = collect_if_small(e)
    if rows is not None:
        return _driver_union_find(rows, e)

    def _large_star(ed: DataFrame) -> DataFrame:
        # for each node, connect every strictly-larger neighbor to the
        # minimum of the neighborhood (including self)
        nbrs = ed.unionByName(
            ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = nbrs.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("mn")
        )
        joined = nbrs.join(mins, "src")
        return (
            joined.where(F.col("dst") > F.col("src"))
            .select(F.col("mn").alias("src"), F.col("dst").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )

    def _small_star(ed: DataFrame) -> DataFrame:
        # orient edges toward larger node, connect smaller neighbors + self
        # to the neighborhood minimum
        oriented = ed.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        mins = oriented.groupBy("src").agg(F.min("dst").alias("mn"))
        joined = oriented.join(mins, "src")
        out = joined.select(
            F.col("mn").alias("src"), F.col("dst").alias("dst")
        ).unionByName(
            mins.select(F.col("mn").alias("src"), F.col("src").alias("dst"))
        )
        return (
            out.where(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
            )
            .distinct()
        )

    def _checkpoint(df: DataFrame, rnd: int) -> DataFrame:
        if checkpoint_dir:
            path = os.path.join(checkpoint_dir, f"cc_round_{rnd}")
            df.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)
        return df.localCheckpoint(eager=True)

    prev_sig = None
    for rnd in range(max_iter):
        e2 = _small_star(_large_star(e))
        e2 = _checkpoint(e2, rnd)
        # convergence: edge multiset stable (cheap signature: count + xor of
        # per-edge hashes — order-insensitive, overflow-free, no driver
        # collect of edges)
        sig_row = e2.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).collect()[0]
        sig = (sig_row.n, sig_row.h)
        e = e2
        if sig == prev_sig:
            break
        prev_sig = sig

    membership = e.select(
        F.col("dst").alias("node"), F.col("src").alias("component")
    ).unionByName(
        e.select(F.col("src").alias("node"), F.col("src").alias("component"))
    )
    return membership.groupBy("node").agg(F.min("component").alias("component"))


def star_edges(keyed: DataFrame, key_col: str, node_col: str) -> DataFrame:
    """(src, dst) edges connecting every node in a key group to the group's
    MIN node — a star per key instead of the k-choose-2 clique.  The star has
    exactly the same connected components as the clique (every member reaches
    every other through the representative) but emits O(k) edges per key, so
    a hot key ('protein' as a head token in real biomed text) costs k rows,
    not k^2.  The min-per-key agg is skew-safe (map-side partial agg)."""
    reps = keyed.groupBy(key_col).agg(F.min(node_col).alias("_rep"))
    return (
        keyed.join(reps, key_col)
        .where(F.col(node_col) != F.col("_rep"))
        .select(F.col("_rep").alias("src"), F.col(node_col).alias("dst"))
        .distinct()
    )


def alias_match_edges(linked_mentions: DataFrame) -> DataFrame:
    """Edges between CUIs that co-occur with the same normalized surface in
    the same document neighborhood — the alias-match graph whose components
    become canonical ids.

    Edge rule (deterministic): two cuis are alias-matched when they share a
    normalized head token among linked surfaces.  The head-token key is
    skew-prone, so the per-head clique is reduced to a per-head STAR
    (star_edges): identical components, linear fanout per head."""
    surf = linked_mentions.select(
        F.lower(F.col("text")).alias("surface"), "cui"
    ).withColumn("head", F.split("surface", " ")[0]).distinct()
    return star_edges(surf.select("head", "cui"), "head", "cui")


def canonical_entities(linked_mentions: DataFrame, spark: SparkSession,
                       checkpoint_dir: str | None = None) -> DataFrame:
    """(cui, canonical_id) mapping: CC over alias-match edges; singleton
    cuis map to themselves."""
    edges = alias_match_edges(linked_mentions)
    comp = connected_components(edges, spark, checkpoint_dir)
    all_cuis = linked_mentions.select("cui").distinct()
    return (
        all_cuis.join(comp, all_cuis.cui == comp.node, "left")
        .select(
            "cui",
            F.coalesce(F.col("component"), F.col("cui")).alias("canonical_id"),
        )
    )
