"""The event-log parser on a tiny traced run: job groups set on the
caller's thread label the jobs, and the accumulables the per-layer table
reads (task/CPU time, shuffle bytes, Python-worker and aggregation-build
time) come through.

    python3 -m pytest perfbench/test_eventlog.py
"""

from __future__ import annotations

import corpus
import eventlog
import run


def test_parse_tiny_traced_run(tmp_path):
    work = str(tmp_path)
    run.prepare_env(work)
    corpus.write_tables(f"{work}/sf", seed=0, n_docs=120, cpus=2)
    spark = run.start_session(work, cpus=2, traced=True)
    try:
        from biomedical_ner_spark.operators import spans

        sc = spark.sparkContext
        docs = spark.read.parquet(f"{work}/sf/documents.parquet")
        sc.setJobGroup("t.arrow", "t.arrow")
        n_arrow = spans.extract_mentions_arrow(docs).count()
        sc.setJobGroup("t.agg", "t.agg")
        langs = docs.groupBy("lang").count().collect()
    finally:
        run.shutdown_spark()
    assert n_arrow > 0 and len(langs) == len(corpus.LANGS)

    jobs, stages = eventlog.parse(f"{work}/events")
    assert {"t.arrow", "t.agg"} <= {j.group for j in jobs}
    assert any((j.call_site or "").startswith("collect at")
               for j in jobs if j.group == "t.agg")
    assert {s.job_id for s in stages} <= {j.job_id for j in jobs}

    arrow = eventlog.totals(s for s in stages if s.group == "t.arrow")
    agg = eventlog.totals(s for s in stages if s.group == "t.agg")
    assert arrow["task_s"] > 0 and arrow["cpu_s"] > 0
    assert arrow["py_worker_s"] > 0
    assert agg["shuffle_write_bytes"] > 0 and agg["shuffle_read_bytes"] > 0

    seen = {a["Name"] for e in eventlog.events(f"{work}/events")
            if e.get("Event") == "SparkListenerStageCompleted"
            for a in e["Stage Info"]["Accumulables"]}
    assert {"time in aggregation build", "time to run Python workers",
            "internal.metrics.executorRunTime",
            "internal.metrics.jvmGCTime"} <= seen
