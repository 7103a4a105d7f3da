"""The north-rule input table: (repo, path, commit, lang, content) with the
per-row sha256 invariant (BASELINE.json input_hint; FIXTURES.md §1.2).

Two providers:

* `repos_from_documents` — a deterministic projection of the driver's
  `documents` table into the repo shape, so every sf level works unchanged
  and no external data is synthesized for correctness runs.
* `synthesize_repos` — a seeded generator producing a skewed corpus rich in
  gazetteer terms (golden sentences + hot entities) for pipeline tests and
  scaling benches; content pool mirrors FIXTURES.md §1.2's synthesis rule.
"""

from __future__ import annotations

import hashlib
import random

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

REPO_SCHEMA = "repo STRING, path STRING, commit STRING, lang STRING, content STRING"


def with_content_sha(df: DataFrame, content_col: str = "content") -> DataFrame:
    """P14: the invariant column that must survive the pipeline unchanged."""
    return df.withColumn("content_sha", F.sha2(F.col(content_col), 256))


def repo_doc_id() -> Column:
    """The 64-bit doc_id of a (repo, path, commit) row — one rule for the
    batch pipeline (plans.kg_pipeline.prepare_input) and the stream
    (streaming.stream_kg).

    Spark's xxhash64 SKIPS null children entirely (the running hash passes
    through), so raw (NULL, 'x', c) and ('x', NULL, c) would hash
    identically.  Each field is coalesced to a control-byte sentinel —
    non-NULL rows hash exactly as raw xxhash64 does (recorded e2e outputs
    stay byte-stable), and NULL-position swaps differ because the sentinel
    is hashed in the null slot.  A real field VALUE equal to the sentinel
    still collides with NULL; a path/repo/commit containing \\x00 bytes is
    outside any sane input contract, and prepare_input(wide_ids=True) has
    no such caveat at all."""
    return F.xxhash64(*(F.coalesce(c, F.lit("\x00<NULL>\x00"))
                        for c in ("repo", "path", "commit")))


def repos_from_documents(docs: DataFrame) -> DataFrame:
    """Project driver `documents` into the repo shape deterministically."""
    return docs.select(
        F.concat(F.lit("org/"), F.col("source")).alias("repo"),
        F.concat(F.lit("docs/doc_"), F.col("doc_id"), F.lit(".txt")).alias("path"),
        F.substring(F.sha2(F.concat_ws(":", "doc_id", "text"), 256), 1, 40)
        .alias("commit"),
        F.col("lang").alias("lang"),
        F.col("text").alias("content"),
        F.col("doc_id"),
    )


_SENTENCE_POOL = [
    "Octamer-binding proteins from HeLa cells stimulate transcription",
    "The BRCA1 gene is associated with breast cancer",
    "mRNA expression in Jurkat cells was upregulated",
    "T lymphocytes play a key role in immune response",
    "p53 and BRCA1 regulate DNA replication",
    "The RNA of Jurkat T cells is similar to HeLa cells",
    "p53 protein binds to BRCA1 DNA in HeLa and Jurkat cells during transcription",
    "BRCA1 gene transcribes mRNA which produces p53 protein",
    "the quick analysis of samples was inconclusive",
    "p53 binds DNA",                # hot entity: p53 appears often (skew)
    "p53 regulates p53 protein",    # hot + self-referencing
    "results were recorded in the lab notebook",
]

_LANGS = ["python", "java", "text", "markdown"]


def synthesize_repos_sql(spark: SparkSession, n_files: int,
                         seed: int = 99,
                         hot_fraction: float = 0.3) -> DataFrame:
    """Distributed twin of synthesize_repos for million-file-and-up scale
    points: every per-file decision is xxhash64-derived from (seed, id, j)
    — order- and partitioning-independent — and the whole generator is
    pure JVM expressions over spark.range(n), so 10^6..10^9 files
    synthesize scan-parallel with NOTHING on the driver (the sequential
    generator builds a Python list driver-side; at 1M rows that is
    hundreds of MB and minutes of createDataFrame).

    Same pool/shape/skew as synthesize_repos (2-6 sentences per file,
    hot_fraction of files sampling the hot-p53 sentences), but NOT
    byte-compatible with the sequential RNG — use the sequential one when
    comparing against recorded e2e graph outputs, this one for wall-clock
    scale curves."""
    pool = ", ".join("'" + t.replace("'", "''") + "'"
                     for t in _SENTENCE_POOL)
    langs = ", ".join(f"'{l}'" for l in _LANGS)
    n_pool = len(_SENTENCE_POOL)

    def u(tag: str) -> str:  # uniform [0,1) from (seed, id, tag)
        return (f"(pmod(xxhash64('{seed}', id, '{tag}'), 1000000)"
                " / 1000000.0)")

    sent = (
        f"CASE WHEN {u('hot')} < {hot_fraction} "
        f"THEN element_at(array({pool}), "
        f"  10 + cast(pmod(xxhash64('{seed}', id, j, 'h'), 2) AS INT)) "
        f"ELSE element_at(array({pool}), "
        f"  1 + cast(pmod(xxhash64('{seed}', id, j, 's'), {n_pool}) AS INT))"
        " END"
    )
    return spark.range(n_files).selectExpr(
        "concat('org', id % 7, '/repo', id % 13) AS repo",
        "concat('src/module_', id % 97, '/file_', id, '.txt') AS path",
        f"sha1(concat_ws(':', '{seed}', 'org' || id % 7 || '/repo' ||"
        " id % 13, 'src/module_' || id % 97 || '/file_' || id || '.txt'))"
        " AS commit",
        f"element_at(array({langs}),"
        f" 1 + cast(pmod(xxhash64('{seed}', id, 'lang'), 4) AS INT)) AS lang",
        f"concat_ws('. ', transform(sequence(1,"
        f" 2 + cast(pmod(xxhash64('{seed}', id, 'k'), 5) AS INT)),"
        f" j -> {sent})) AS content",
    )


def synthesize_repos(spark: SparkSession, n_files: int = 2000,
                     seed: int = 42, hot_fraction: float = 0.3) -> DataFrame:
    """Seeded repo corpus: `hot_fraction` of files over-sample the hot-p53
    sentences (skewed mention distribution for salting tests)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_files):
        repo = f"org{i % 7}/repo{i % 13}"
        path = f"src/module_{i % 97}/file_{i}.txt"
        hot = rng.random() < hot_fraction
        k = rng.randint(2, 6)
        if hot:
            sents = [_SENTENCE_POOL[9 + (rng.randint(0, 1))] for _ in range(k)]
        else:
            sents = [rng.choice(_SENTENCE_POOL) for _ in range(k)]
        content = ". ".join(sents)
        commit = hashlib.sha1(f"{seed}:{repo}:{path}".encode()).hexdigest()
        rows.append((repo, path, commit, rng.choice(_LANGS), content))
    return spark.createDataFrame(rows, REPO_SCHEMA)
