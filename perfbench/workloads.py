"""The benchmark workloads and the metrics they report.

Each workload is a closed loop driven from one process: the next
operation starts only after the previous one (and its check) finished.

* ``kg_pipeline`` -- per cycle, ``plans.kg_pipeline.run_kg_pipeline`` as
  a fresh build, then as a resume after a quarter of the buckets lost
  their manifest rows and partition directories, then
  ``streaming.stream_kg.stream_mentions`` draining a queued backlog one
  file per microbatch with an availableNow trigger.
* ``corpus_queries`` -- per cycle, one pass over the 16 ``queries()``
  leaves ``bench.py`` times, one ``.count()`` per leaf.

A workload object makes its inputs (``setup``), runs one loop cycle
(``cycle``), checks what it recorded (``finish``) and turns the recorded
operations into metrics (``e2e``, ``layers``).  Every timing is a wall
around a call into a public entry point; nothing inside the library is
instrumented.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq

from biomedical_ner_spark import queries as Q
from biomedical_ner_spark.operators import spans
from biomedical_ner_spark.plans.kg_pipeline import STAGES, run_kg_pipeline
from biomedical_ner_spark.sources.repos import synthesize_repos_sql
from biomedical_ner_spark.streaming.stream_kg import stream_mentions

import corpus
import eventlog

# ---------------------------------------------------------------------------
# metric names (BENCHMARK.json lists the same names; test_smoke checks it)
# ---------------------------------------------------------------------------

END_TO_END = {"setup_s": "s", "docs_per_s": "docs/s", "latency_s": "s"}

KG_OPS = ("build", "resume")
KG_ROWS = ("mentions", "linked", "relations", "entities")
# queries() leaf -> the operator module that does its work
LEAF_MODULE = {
    "minhash_lsh_pairs": "dedup", "ngram_jaccard": "dedup",
    "simhash": "dedup", "dedup_exact": "dedup",
    "embedding_near_dups": "dedup", "corpus_curation": "dedup",
    "ann_topk": "similarity", "lsh_topk": "similarity",
    "ivf_topk": "similarity",
    "entity_type_counts": "stats", "corpus_stats": "stats",
    "vocab_build": "stats",
    "encoded_tokens": "encode", "subword_vectors": "embeddings",
    "quality_score": "text", "event_windows": "windowed",
}
# the queries() leaves bench.py times, in its order
LEAVES = (
    "entity_type_counts", "corpus_stats", "vocab_build",
    "minhash_lsh_pairs", "simhash", "ann_topk", "quality_score",
    "lsh_topk", "ivf_topk", "event_windows", "corpus_curation",
    "dedup_exact", "ngram_jaccard", "embedding_near_dups",
    "subword_vectors", "encoded_tokens",
)
MODULES = tuple(dict.fromkeys(LEAF_MODULE.values()))
MODULE_METRICS = {"task_cpu_s": "cpu_s", "gc_s": "gc_s",
                  "shuffle_read_bytes": "shuffle_read_bytes",
                  "shuffle_write_bytes": "shuffle_write_bytes",
                  "spill_bytes": "spill_bytes",
                  "agg_build_s": "agg_build_s"}
STREAM_DURATIONS = ("addBatch", "queryPlanning", "walCommit",
                    "commitOffsets", "latestOffset")


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


def per_layer_spec() -> dict[str, tuple[str, str]]:
    """name -> (unit, better) for every per-layer metric."""
    names = []
    for op in KG_OPS:
        names += [f"kg.{op}.{st}_s" for st in STAGES]
        names += [f"kg.{op}.rows.{r}" for r in KG_ROWS]
        names += [f"kg.{op}.{m}" for m in (
            "jobs", "output_bytes", "verify_jobs", "verify_task_s",
            "graph.task_cpu_s", "graph.shuffle_write_bytes")]
    names.append("kg.build.mentions.py_worker_s")
    names += [f"q.{leaf}_s" for leaf in LEAVES]
    names += [f"{mod}.{m}" for mod in MODULES for m in MODULE_METRICS]
    names += ["stream.docs_per_s", "stream.batch_s"]
    names += [f"stream.{d}_s" for d in STREAM_DURATIONS]
    names += ["stream.batches", "stream.rows_in", "stream.mentions_out",
              "stream.py_worker_s", "stream.task_cpu_s"]
    spec = {n: (_unit(n), "lower") for n in names}
    spec["stream.docs_per_s"] = ("docs/s", "higher")
    for n in spec:
        if ".rows." in n or n in ("stream.rows_in", "stream.mentions_out"):
            spec[n] = ("rows", "higher")
    spec.update({
        "host.burn_1proc_before_s": ("s", "lower"),
        "host.burn_1proc_after_s": ("s", "lower"),
        "host.burn_parallel_eff": ("share", "higher"),
        "session.peak_rss_mb": ("MB", "lower"),
        "trace.main_op_s": ("s", "lower"),
    })
    return spec


# ---------------------------------------------------------------------------
# shared plumbing
# ---------------------------------------------------------------------------


@dataclass
class Op:
    """One timed operation: its wall, whether it passed its check
    (None = not checked yet), its job group and what the call returned."""
    kind: str
    wall: float
    group: str
    t_start: float
    ok: bool | None = None
    info: dict = field(default_factory=dict)


@dataclass
class Ctx:
    work: str
    seed: int
    cpus: int
    scale: float
    traced: bool
    spark: object = None


def median(xs) -> float:
    """Median, or 0.0 when nothing was measured."""
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def timed_op(spark, kind: str, group: str, fn) -> Op:
    """Run fn() under job group `group`; a raised error fails the op."""
    spark.sparkContext.setJobGroup(group, group)
    op = Op(kind=kind, wall=0.0, group=group, t_start=time.time())
    t0 = time.perf_counter()
    try:
        op.info["result"] = fn()
    except Exception:  # an op that raises is counted as failed, run goes on
        traceback.print_exc()
        op.ok = False
    op.wall = time.perf_counter() - t0
    return op


def _parquet(path: str) -> str:
    return (f"read_parquet('{path}/**/*.parquet', hive_partitioning=true,"
            " union_by_name=true)")


def same_rows(con, a: str, b: str) -> bool:
    """Row-for-row (multiset) equality of two parquet directories."""
    qa, qb = f"SELECT * FROM {_parquet(a)}", f"SELECT * FROM {_parquet(b)}"
    n = con.sql(f"SELECT (SELECT count(*) FROM ({qa} EXCEPT ALL {qb}))"
                f" + (SELECT count(*) FROM ({qb} EXCEPT ALL {qa}))"
                ).fetchone()[0]
    return n == 0


# ---------------------------------------------------------------------------
# kg_pipeline
# ---------------------------------------------------------------------------


class KgPipeline:
    """KG construction from one driver: a fresh build, a resume after a
    quarter of the buckets crashed, and a streaming ingest of a backlog."""

    files = 1000
    input_files = 16
    buckets = 16
    stream_files = 4
    run_id = "bench"
    tables = ("mentions", "relations", "entities")

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_files = max(100, int(self.files * ctx.scale))
        self.lost = tuple(range(0, self.buckets, 4))
        self.dir = f"{ctx.work}/kg"
        self.input = f"{self.dir}/input"
        self.stream_input = f"{self.dir}/stream_input"
        self.n = 0

    def setup(self) -> None:
        """Materialize the input; its first files, copied, are the stream
        backlog.  There is no warm pass: a pipeline run is a batch job,
        and the first build pays the cold start a fresh driver pays."""
        spark = self.ctx.spark
        (synthesize_repos_sql(spark, self.n_files, seed=self.ctx.seed)
         .repartition(self.input_files).write.parquet(self.input))
        os.makedirs(self.stream_input)
        parts = sorted(f for f in os.listdir(self.input)
                       if f.endswith(".parquet"))
        for f in parts[:self.stream_files]:
            shutil.copy(f"{self.input}/{f}", self.stream_input)
        self.n_stream = pq.read_table(self.stream_input).num_rows
        self.repos = spark.read.parquet(self.input)

    def _run(self, out: str, resume: bool, kind: str) -> Op:
        return timed_op(
            self.ctx.spark, kind, f"kg.{kind}.{self.n}",
            lambda: run_kg_pipeline(
                self.ctx.spark, self.repos, out, run_id=self.run_id,
                n_buckets=self.buckets, resume=resume))

    def _crash_copy(self, src: str, dst: str) -> None:
        """Copy of a completed output that lost a quarter of its buckets:
        their manifest rows and their partition directories."""
        shutil.copytree(src, dst)
        man = f"{dst}/manifest"
        kept = pq.read_table(
            man, filters=[("bucket", "not in", list(self.lost))])
        shutil.rmtree(man)
        os.makedirs(man)
        pq.write_table(kept, f"{man}/part-00000.parquet")
        for table in ("mentions", "linked", "relations"):
            for b in self.lost:  # a bucket with no rows has no directory
                shutil.rmtree(f"{dst}/{table}/bucket={b}",
                              ignore_errors=True)

    def cycle(self) -> list[Op]:
        self.n += 1
        built = f"{self.dir}/build{self.n}"
        resumed = f"{self.dir}/resume{self.n}"
        build = self._run(built, resume=False, kind="build")
        if build.ok is None:
            with duckdb.connect() as con:
                build.info["manifest_ok"] = self._manifest_ok(con, built)
                # the build's Arrow-path mentions of the backlog documents
                build.info["backlog"] = {r[0]: tuple(r[1:]) for r in con.sql(
                    "SELECT type, count(*), sum(start_position),"
                    f" sum(end_position) FROM {_parquet(built + '/mentions')}"
                    " WHERE path IN (SELECT path FROM"
                    f" read_parquet('{self.stream_input}/*.parquet'))"
                    " GROUP BY type").fetchall()}
            self._crash_copy(built, resumed)
            resume = self._run(resumed, resume=True, kind="resume")
            if resume.ok is None:
                with duckdb.connect() as con:
                    resume.ok = self._manifest_ok(con, resumed) and all(
                        same_rows(con, f"{resumed}/{t}", f"{built}/{t}")
                        for t in self.tables)
        else:
            resume = Op(kind="resume", wall=0.0, group="", t_start=0.0,
                        ok=False)
        shutil.rmtree(built, ignore_errors=True)
        shutil.rmtree(resumed, ignore_errors=True)
        # the drain feeds only per-layer metrics, so only traced runs pay it
        return [build, resume] + ([self._drain()] if self.ctx.traced else [])

    def _drain(self) -> Op:
        ck = f"{self.dir}/stream_ck{self.n}"
        out = f"{self.dir}/stream_out{self.n}"

        def drain():
            q = stream_mentions(self.ctx.spark, self.stream_input, ck, out,
                                max_files_per_trigger=1)
            if not q.awaitTermination(150):
                q.stop()
                raise TimeoutError("stream drain did not finish")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return [p for p in q.recentProgress if p["numInputRows"] > 0]

        op = timed_op(self.ctx.spark, "drain", f"stream.{self.n}", drain)
        if op.ok is None:
            with duckdb.connect() as con:
                op.info["sink"] = {r[0]: tuple(r[1:]) for r in con.sql(
                    "SELECT type, count(*), sum(start_position),"
                    " sum(end_position) FROM "
                    f"read_parquet('{out}/*.parquet') GROUP BY type"
                ).fetchall()}
        shutil.rmtree(ck, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        return op

    def _manifest_ok(self, con, out: str) -> bool:
        """Every (stage, bucket) has a manifest row, and all are sha_ok."""
        n_ok, n_bad = con.sql(
            "SELECT count(DISTINCT (stage, bucket)) FILTER (WHERE sha_ok),"
            " count(*) FILTER (WHERE NOT sha_ok)"
            f" FROM read_parquet('{out}/manifest/*.parquet')"
            f" WHERE run_id = '{self.run_id}'").fetchone()
        return n_ok == len(STAGES) * self.buckets and n_bad == 0

    def finish(self, ops: list[Op]) -> None:
        """A build passes when its manifest was complete and it kept as
        many mentions, linked and unlinked, as the DuckDB span oracle
        finds.  A drain passes when every backlog document was read and
        its sink matches a passing build's mentions (the
        extract_mentions_arrow path) of the same documents: per type,
        the count, sum(start) and sum(end)."""
        with duckdb.connect() as con:
            con.sql("CREATE VIEW repos AS SELECT * FROM "
                    f"read_parquet('{self.input}/*.parquet')")
            want = con.sql("SELECT count(*) FROM ("
                           + spans.bio_spans_window_sql(
                               "repos", text_col="content", id_col="path")
                           + ")").fetchone()[0]
        builds = [o for o in ops if o.kind == "build" and o.ok is None]
        for op in builds:
            st = op.info["result"]["stages"]
            op.ok = (op.info["manifest_ok"]
                     and st["mentions"] == st["linked"] == want)
        ref = next((o.info["backlog"] for o in builds if o.ok), None)
        for op in ops:
            if op.ok is None:  # a drain
                fed = sum(p["numInputRows"] for p in op.info["result"])
                op.ok = (ref is not None and op.info["sink"] == ref
                         and fed == self.n_stream)
            if not op.ok:
                print(f"kg_pipeline: {op.kind} {op.group} failed its check",
                      file=sys.stderr, flush=True)

    def e2e(self, ops: list[Op]) -> dict[str, float]:
        return {
            "docs_per_s": median(self.n_files / o.wall for o in ops
                                 if o.kind == "build"),
            "latency_s": median(o.wall for o in ops if o.kind == "resume"),
        }

    def main_wall(self, ops: list[Op]) -> float:
        return median(o.wall for o in ops if o.kind == "build")

    def layers(self, ops, jobs, stages) -> dict[str, float]:
        out = {}
        for kind in KG_OPS:
            mine = [o for o in ops if o.kind == kind and o.ok]
            for st in STAGES:
                out[f"kg.{kind}.{st}_s"] = median(
                    o.info["result"]["stage_walls"][st] for o in mine)
            for r in KG_ROWS:
                out[f"kg.{kind}.rows.{r}"] = median(
                    o.info["result"]["stages"][r] for o in mine)
            per_op = [self._traced_op(o, jobs, stages)
                      for o in ops if o.kind == kind]
            for m in ("jobs", "output_bytes", "verify_jobs",
                      "verify_task_s", "graph.task_cpu_s",
                      "graph.shuffle_write_bytes", "mentions.py_worker_s"):
                out[f"kg.{kind}.{m}"] = median(p[m] for p in per_op)
        del out["kg.resume.mentions.py_worker_s"]
        out.update(self._stream_layers(ops, stages))
        return out

    @staticmethod
    def _traced_op(op: Op, jobs, stages) -> dict[str, float]:
        mine = [s for s in stages if s.group == op.group]
        my_jobs = [j for j in jobs if j.group == op.group]
        verify = {j.job_id for j in my_jobs
                  if (j.call_site or "").startswith("collect at")
                  and "biomedical_ner_spark/plans/" in j.call_site}
        walls = (op.info.get("result") or {}).get("stage_walls", {})
        t_ms = op.t_start * 1000
        b1 = t_ms + 1000 * walls.get("mentions", 0)
        b2 = b1 + 1000 * walls.get("linked", 0)
        mentions = eventlog.totals(s for s in mine if s.submit_ms < b1)
        graph = eventlog.totals(s for s in mine if s.submit_ms >= b2)
        total = eventlog.totals(mine)
        return {
            "jobs": float(len(my_jobs)),
            "output_bytes": total["output_bytes"],
            "verify_jobs": float(len(verify)),
            "verify_task_s": eventlog.totals(
                s for s in mine if s.job_id in verify)["task_s"],
            "graph.task_cpu_s": graph["cpu_s"],
            "graph.shuffle_write_bytes": graph["shuffle_write_bytes"],
            "mentions.py_worker_s": mentions["py_worker_s"],
        }

    def _stream_layers(self, ops, stages) -> dict[str, float]:
        good = [o for o in ops if o.kind == "drain" and o.ok]
        batches = [p for o in good for p in o.info["result"]]
        out = {f"stream.{d}_s": median(p["durationMs"].get(d, 0) / 1000
                                       for p in batches)
               for d in STREAM_DURATIONS}
        out["stream.batch_s"] = median(
            p["durationMs"]["triggerExecution"] / 1000 for p in batches)
        out["stream.docs_per_s"] = median(self.n_stream / o.wall
                                          for o in good)
        out["stream.batches"] = median(len(o.info["result"]) for o in good)
        out["stream.rows_in"] = median(
            sum(p["numInputRows"] for p in o.info["result"]) for o in good)
        out["stream.mentions_out"] = median(
            sum(v[0] for v in o.info["sink"].values()) for o in good)
        tot = eventlog.totals(s for s in stages if s.batch_id is not None)
        n = max(1, sum(1 for o in ops if o.kind == "drain"))
        out["stream.py_worker_s"] = tot["py_worker_s"] / n
        out["stream.task_cpu_s"] = tot["cpu_s"] / n
        return out


# ---------------------------------------------------------------------------
# corpus_queries
# ---------------------------------------------------------------------------


class CorpusQueries:
    """One pass over the 16 ``queries()`` leaves bench.py times, per
    cycle.  bench.py's four extra leaves (``mentions``,
    ``mentions_arrow``, ``link``, ``triples``) and the frames it caches
    for them are left out: their layers run in kg_pipeline, and their
    set-up and cold start cost about 10 s of every run."""

    docs = 1000

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_docs = max(100, int(self.docs * ctx.scale))
        self.sf = f"{ctx.work}/cq/sf"
        self.passes = 0

    def setup(self) -> None:
        """Write the tables.  There is no warm pass (it would cost as much
        as the pass it precedes): the measured pass pays codegen, JIT and
        Python-worker start-up."""
        corpus.write_tables(self.sf, self.ctx.seed, self.n_docs,
                            self.ctx.cpus)

    def cycle(self) -> list[Op]:
        self.passes += 1
        spark, q = self.ctx.spark, Q.queries()
        return [timed_op(spark, name, f"q.{name}.{self.passes}",
                         lambda f=q[name]: f(spark, self.sf).count())
                for name in LEAVES]

    def finish(self, ops: list[Op]) -> None:
        """Every leaf count equals its DuckDB oracle twin's row count."""
        oracle = Q.oracle_sql()
        with duckdb.connect() as con:
            for t in ("documents", "events", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf}/{t}.parquet/*.parquet')")
            want = {leaf: con.sql(f"SELECT count(*) FROM ({oracle[leaf]})"
                                  ).fetchone()[0] for leaf in LEAVES}
        for op in ops:
            if op.ok is None:
                op.ok = op.info["result"] == want[op.kind]
                if not op.ok:
                    print(f"corpus_queries: {op.kind} counted "
                          f"{op.info['result']}, oracle {want[op.kind]}",
                          file=sys.stderr, flush=True)

    @staticmethod
    def pass_walls(ops: list[Op]) -> list[float]:
        walls: dict[str, float] = {}
        for o in ops:
            p = o.group.rsplit(".", 1)[1]
            walls[p] = walls.get(p, 0.0) + o.wall
        return list(walls.values())

    def e2e(self, ops: list[Op]) -> dict[str, float]:
        """Pass throughput, and the mean leaf wall: what an analyst waits
        for one query on average (the median leaf swings with which
        leaves pay the cold start)."""
        wall = median(self.pass_walls(ops))
        return {"docs_per_s": self.n_docs / wall,
                "latency_s": wall / len(LEAVES)}

    def main_wall(self, ops: list[Op]) -> float:
        return median(self.pass_walls(ops))

    def layers(self, ops, jobs, stages) -> dict[str, float]:
        out = {f"q.{leaf}_s": median(o.wall for o in ops if o.kind == leaf)
               for leaf in LEAVES}
        n_pass = max(1, len(self.pass_walls(ops)))
        leaf_of = {s.stage_id: s.group.split(".")[1] for s in stages
                   if (s.group or "").startswith("q.")}
        for mod in MODULES:
            tot = eventlog.totals(
                s for s in stages
                if LEAF_MODULE.get(leaf_of.get(s.stage_id)) == mod)
            for name, src in MODULE_METRICS.items():
                out[f"{mod}.{name}"] = tot[src] / n_pass
        return out


WORKLOADS = {"kg_pipeline": KgPipeline, "corpus_queries": CorpusQueries}
