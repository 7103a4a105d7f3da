"""Physical-plan audit: for each headline query, record exchange count,
Python-eval nodes, scan pushdown (ReadSchema), and broadcast usage into
PLANS.md — the `.explain("formatted")`-driven iteration artifact.

Also ASSERTS (exit 1) that no audited plan contains a CartesianProduct or
BroadcastNestedLoopJoin node — the all-pairs scale killers — and that no
Window runs without a partitionBy (a partition-less window funnels its
whole input through ONE task; every global rank in this engine goes
through the two-pass bucket-offset pattern instead)."""

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = os.environ.get("CHECK_SF", "/root/testdata/sf0.01")

AUDIT = [
    "bio_spans", "entity_type_counts", "cooc_triples", "ann_topk",
    "minhash_lsh_pairs", "vocab_lookup", "corpus_stats", "quality_score",
    "simhash", "canonical_surfaces", "kg_mentions", "kg_linked",
    "lsh_topk", "ivf_topk", "sequential_split", "shuffled_split",
    "event_windows", "embedding_near_dups", "encoded_tokens",
    "vocab_build", "char_inventory", "tag_map", "top_words",
    # round 4: driver-new queries.  Excluded: dedup_stream_batch (a
    # streaming query's plan isn't explainable pre-execution),
    # kg_manifest (runs the side-effecting pipeline at call time; its
    # stages are audited via the kg_* queries), and neural_emissions
    # (writes + addFile's its checkpoint at DataFrame-build time)
    "class_counts", "plausibility_filter",
    # round 5: balance_targets (collects the class-count dict at build
    # time — the reference's own driver-side planning step — then the
    # audited plan covers the distributed union/recount legs) and the
    # shed-bucket audit query.  stream_mentions is excluded like
    # dedup_stream_batch (building it runs the stream).
    "balance_targets", "shed_buckets",
]

FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin")


def _partitionless_windows(plan: str) -> int:
    """Count windowspecdefinition(...) specs with an empty partition spec.

    The spec renders as windowspecdefinition(part..., order ASC/DESC ...,
    specifiedwindowframe(...)); when no partition columns exist the FIRST
    top-level argument is an ordering term (contains ASC/DESC) or the
    frame itself."""
    n = 0
    for m in re.finditer(r"windowspecdefinition\(", plan):
        i = m.end()
        depth, arg = 1, []
        while i < len(plan) and depth:
            ch = plan[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 1:
                break
            arg.append(ch)
            i += 1
        first = "".join(arg)
        if (re.search(r"\b(ASC|DESC)\b", first)
                or first.startswith("specifiedwindowframe")):
            n += 1
    return n


def main() -> None:
    from biomedical_ner_spark import queries as Q
    from biomedical_ner_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    lines = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        "Generated by scripts/plan_audit.py at sf0.01. For each query:",
        "number of shuffle exchanges, broadcast exchanges, Python/Arrow eval",
        "nodes, and the parquet scan's pruned ReadSchema (column pruning +",
        "pushdown evidence). Iterated until each plan is the intended one:",
        "single exchange for the extract path, broadcasts for every dim",
        "join, TopK (no global sort) for rankings.",
        "",
    ]
    qs = Q.queries()
    violations = []

    def extra_dfs():
        # operators without a queries() entry that must also stay
        # cartesian-free
        from biomedical_ner_spark.operators import dedup
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        yield "op:embedding_near_dups", dedup.embedding_near_dups(emb)
        from biomedical_ner_spark.operators.canonicalize import (
            alias_match_edges)
        linked = qs["kg_linked"](spark, SF)
        yield "op:alias_match_edges", alias_match_edges(linked)

    audits = [(name, qs[name](spark, SF)) for name in AUDIT]
    audits += list(extra_dfs())
    for name, df in audits:
        plan = jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        headers = re.findall(r"\(\d+\) ([A-Za-z]+)", plan)
        from collections import Counter

        c = Counter(headers)
        for bad in FORBIDDEN:
            if c.get(bad, 0):
                violations.append(f"{name}: {bad} x{c[bad]}")
        plw = _partitionless_windows(plan)
        if plw:
            violations.append(f"{name}: partition-less Window x{plw}")
        shuffles = c.get("Exchange", 0)
        bcast = c.get("BroadcastExchange", 0)
        pyeval = (c.get("ArrowEvalPython", 0) + c.get("BatchEvalPython", 0)
                  + c.get("MapInPandas", 0) + c.get("MapInArrow", 0))
        sorts = c.get("Sort", 0) + c.get("TakeOrderedAndProject", 0)
        wins = c.get("Window", 0) + c.get("WindowGroupLimit", 0)
        aggs = (c.get("HashAggregate", 0) + c.get("ObjectHashAggregate", 0)
                + c.get("SortAggregate", 0))
        schemas = sorted(set(re.findall(r"ReadSchema: (\S+)", plan)))
        lines.append(f"## {name}")
        lines.append("")
        lines.append(
            f"- shuffle exchanges: {shuffles} | broadcasts: {bcast}"
            f" | python/arrow nodes: {pyeval} | sorts: {sorts}"
            f" | windows: {wins} | aggregates: {aggs}"
        )
        for s in schemas:
            lines.append(f"- scan ReadSchema: `{s}`")
        lines.append("")
    lines += [
        "## Reading the numbers",
        "",
        "- `bio_spans` / `entity_type_counts`: the whole extract path costs",
        "  ONE shuffle (window + span groupBy + first agg all cluster on",
        "  doc_id); the second exchange on the counts query is the final",
        "  5-row aggregate.",
        "- `quality_score`: zero exchanges — pure narrow scan->project, the",
        "  shape every per-document text metric should have at 100 TB.",
        "- `cooc_triples`: the self-join shuffles the (pruned) mention pairs",
        "  once on doc_id; the token-array side broadcasts at this SF and",
        "  falls back to a co-partitioned join at scale (AQE decides).",
        "- `ann_topk`/`top_words`: rank windows compile to WindowGroupLimit",
        "  (TopK per key) — no global sort of the scored space.",
        "- `vocab_lookup`: the dense-id assignment uses the two-pass",
        "  bucket-offset rank (bucket = inverted-freq hex + first char),",
        "  so even a 10^8-word web vocabulary never funnels through one",
        "  task; the corpus-sized side only does the broadcast hash join.",
        "- `minhash_lsh_pairs`: shingle-agg -> per-doc 16-min agg (hashes",
        "  computed INLINE on the doc-shingle stream; no corpus-derived",
        "  dim anywhere) -> one band explode -> groupBy(bucket) +",
        "  in-bucket combination expand (NOT a self-join: the join's two",
        "  renamed sides would evaluate the signature lineage twice).",
        "- `encoded_tokens`: ZERO exchanges — the whole encode stage is one",
        "  narrow scan -> mapInPandas crossing (dictionaries ship in the",
        "  closure, vocabulary-bounded).",
        "- `event_windows`: one exchange — the tumbling-window agg shuffles",
        "  once on (window, event_type) with map-side partial agg.",
        "- `lsh_topk`/`ivf_topk`/`embedding_near_dups`: the Python nodes are",
        "  the batched-numpy bucket/centroid/cosine stages (one matmul per",
        "  Arrow batch); candidates come from equi-joins on bucket/list",
        "  keys — plan_audit asserts no cartesian node anywhere.",
        "- `sequential_split`/`shuffled_split`: the window is partitioned by",
        "  the deterministic range bucket (two exchanges total: bucket",
        "  counts + ranked output) — no single-partition global sort.",
        "",
    ]
    out = "\n".join(lines)
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(out)
    print(out)
    spark.stop()
    if violations:
        print("PLAN VIOLATIONS (cartesian/all-pairs nodes):", violations)
        sys.exit(1)
    print("plan audit: no CartesianProduct/BroadcastNestedLoopJoin in "
          f"{len(audits)} plans")


if __name__ == "__main__":
    main()
