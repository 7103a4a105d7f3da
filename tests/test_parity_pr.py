"""Explicit span & triple P/R vs the reference-faithful oracle over the
synthesized repo corpus (north rule: P/R >= 0.95; we assert 1.0 on the
deterministic stages and persist PARITY.json for the record)."""

import json
import os

from pyspark.sql import functions as F

from biomedical_ner_spark.core import run_reference_pipeline
from biomedical_ner_spark.lexicon import VERB_POOL
from biomedical_ner_spark.operators import spans
from biomedical_ner_spark.operators.triples import triples as make_triples
from biomedical_ner_spark.sources.repos import synthesize_repos, with_content_sha


def _oracle_spans_and_triples(content: str):
    preds, ents = run_reference_pipeline(content)
    toks = [t for t, _ in preds]
    span_set = {
        (e["text"], e["type"], e["start_position"], e["end_position"])
        for e in ents
    }
    triple_set = set()
    for i, s in enumerate(ents):
        for o in ents[i + 1:]:
            if s["start_position"] < o["start_position"]:
                between = [
                    t.lower()
                    for t in toks[s["end_position"] + 1:o["start_position"]]
                ]
                pred = next(
                    (VERB_POOL[t] for t in between if t in VERB_POOL),
                    "co_occurs_with",
                )
                triple_set.add(
                    (s["text"], pred, o["text"], s["start_position"],
                     o["start_position"])
                )
    return span_set, triple_set


def test_span_and_triple_pr_vs_oracle(spark, tmp_path):
    repos = with_content_sha(
        synthesize_repos(spark, n_files=400, seed=123)
    ).withColumn("doc_id", F.xxhash64("repo", "path", "commit"))

    got_spans = {
        (r.doc_id, r.text, r.type, r.start_position, r.end_position)
        for r in spans.mentions(
            repos, text_col="content", keep_cols=["doc_id"]
        ).collect()
    }
    m = spans.mentions(repos, text_col="content", keep_cols=["doc_id"])
    toks = spans.doc_tokens(repos, text_col="content").select(
        "doc_id", "tokens"
    )
    got_triples = {
        (r.doc_id, r.subj_text, r.pred, r.obj_text, r.subj_start, r.obj_start)
        for r in make_triples(toks, m).collect()
    }

    want_spans, want_triples = set(), set()
    for r in repos.select("doc_id", "content").collect():
        ss, ts = _oracle_spans_and_triples(r.content)
        want_spans |= {(r.doc_id, *s) for s in ss}
        want_triples |= {(r.doc_id, *t) for t in ts}

    def pr(got: set, want: set) -> tuple[float, float]:
        tp = len(got & want)
        return (tp / len(got) if got else 1.0,
                tp / len(want) if want else 1.0)

    sp, sr = pr(got_spans, want_spans)
    tp_, tr = pr(got_triples, want_triples)
    parity = {
        "corpus": "synthesize_repos(n=400, seed=123)",
        "n_spans": len(want_spans), "span_precision": sp, "span_recall": sr,
        "n_triples": len(want_triples),
        "triple_precision": tp_, "triple_recall": tr,
        "target": 0.95,
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PARITY.json"), "w") as f:
        json.dump(parity, f, indent=2)
    assert sp == 1.0 and sr == 1.0, parity
    assert tp_ == 1.0 and tr == 1.0, parity
