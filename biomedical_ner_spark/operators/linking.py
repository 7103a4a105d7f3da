"""Entity linking (J7): mention surface -> CUI against a broadcast alias
dictionary, with TF-IDF char-ngram + embedding-cosine re-ranking.

North-rule stage 2 (BASELINE.json north_star): "a second Arrow UDF scores
candidate entity links against a broadcast UMLS/MeSH alias dictionary with
TF-IDF + embedding cosine re-ranking".

Design: the alias dictionary is tiny (like the reference's 12.6k-word vocab,
SURVEY.md D4/J4), so candidate generation is a **broadcast hash join** on a
blocking key (the mention's first token = the alias's first token), giving
several non-identical candidates per mention; scoring (0.6*tfidf-char-ngram
cosine + 0.3*embedding cosine + 0.1*alias prior, +type bonus) runs
vectorized inside ONE pandas UDF; top-1 per mention via a window (Catalyst
rewrites the rank<=1 filter to per-key TopK).  Unlinked mentions get
deterministic NIL CUIs (md5-derived) so canonicalization still merges
identical surfaces.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from ..lexicon import build_alias_rows

EMB_DIM = 32


def _char_ngrams(s: str, n: int = 3) -> list[str]:
    s = f"^{s}$"
    return [s[i:i + n] for i in range(max(len(s) - n + 1, 1))]


def _seeded_vec(key: str, dim: int = EMB_DIM) -> np.ndarray:
    """Deterministic pseudo-embedding: dim j is md5("key:j") scaled to
    [-1, 1), then unit-normalized — float64 end to end (stands in for the
    Word2Vec/BioWordVec artifact of streamlit_utils.py:42-59; a real
    KeyedVectors export drops in as the same (word, vector) dim table).
    Deliberately SQL-expressible so the DuckDB kg_linked oracle recomputes
    the identical vectors: ('0x'||substr(md5(key||':'||j),1,8))::UBIGINT
    / 2^32 * 2 - 1, normalized with the same +1e-12 epsilon."""
    x = np.array(
        [int(hashlib.md5(f"{key}:{j}".encode()).hexdigest()[:8], 16)
         / 4294967296.0 * 2.0 - 1.0 for j in range(dim)],
        dtype=np.float64,
    )
    return x / (np.linalg.norm(x) + 1e-12)


def alias_dim(spark: SparkSession) -> DataFrame:
    """The broadcast-side alias dimension table (FIXTURES.md §2)."""
    return spark.createDataFrame(
        build_alias_rows(),
        "alias STRING, cui STRING, entity_type STRING, weight DOUBLE",
    )


def link_artifacts() -> tuple[list[tuple], dict[str, float]]:
    """(alias_rows, idf) — the deterministic dictionary artifacts shared by
    the Spark scorer and the DuckDB kg_linked oracle builder (queries.py),
    so both engines score against byte-identical inputs."""
    alias_rows = build_alias_rows()
    df_counts: dict[str, int] = {}
    for a, _, _, _ in alias_rows:
        for g in set(_char_ngrams(a)):
            df_counts[g] = df_counts.get(g, 0) + 1
    n_alias = max(len(alias_rows), 1)
    idf = {g: math.log(1.0 + n_alias / c) for g, c in df_counts.items()}
    return alias_rows, idf


def link_mentions(mentions_df: DataFrame, spark: SparkSession,
                  text_col: str = "text") -> DataFrame:
    """mentions + (cui, link_score, linked).

    Scale shape: the link score is a pure function of (surface, alias,
    mention_type), so candidate generation + re-ranking runs over the
    DISTINCT (surface, type) pairs — a tiny frame even at 100 TB (bounded
    by vocabulary, not corpus) — and the chosen top-1 link broadcast-joins
    back onto the mention stream.  The full mention table is touched by
    exactly one narrow projection and one broadcast hash join: no window,
    no shuffle of the big side, and the pandas-UDF scoring cost is
    per-unique-surface, not per-mention.
    """
    aliases = alias_dim(spark)
    alias_rows, idf = link_artifacts()
    alias_vecs = {a: _seeded_vec(a) for a, _, _, _ in alias_rows}
    # alias-side TF-IDF weight vectors precomputed ONCE on the driver (the
    # alias dim is vocabulary-bounded): the scorer previously rebuilt the
    # alias ngram dict + norm per candidate ROW (guide §4.5 — hoist
    # per-row invariants); construction order is unchanged so the float
    # sums are bit-identical.
    alias_ngw: dict[str, tuple[dict[str, float], float]] = {}
    for a, _, _, _ in alias_rows:
        wb: dict[str, float] = {}
        for g in _char_ngrams(a):
            wb[g] = wb.get(g, 0.0) + idf.get(g, 1.0)
        alias_ngw[a] = (wb, math.sqrt(sum(w * w for w in wb.values())))

    sc = spark.sparkContext
    b_idf = sc.broadcast(idf)
    b_vecs = sc.broadcast(alias_vecs)
    b_ngw = sc.broadcast(alias_ngw)

    m = mentions_df.withColumn("_surface", F.lower(F.col(text_col)))
    surfaces = m.select("_surface", "type").distinct()
    surfaces = surfaces.withColumn("_block", F.split("_surface", " ")[0])
    cand_dim = (
        aliases
        .withColumn("_block", F.split("alias", " ")[0])
        .withColumnRenamed("entity_type", "_alias_type")
    )
    cand = surfaces.join(F.broadcast(cand_dim), on="_block", how="left")

    @pandas_udf("double")
    def rerank(surface: pd.Series, alias: pd.Series, alias_type: pd.Series,
               mention_type: pd.Series, weight: pd.Series) -> pd.Series:
        idf_d = b_idf.value
        vecs = b_vecs.value
        ngw = b_ngw.value
        out = np.zeros(len(surface), dtype=np.float64)
        sv_cache: dict = {}   # surfaces repeat per candidate fanout: one
        wa_cache: dict = {}   # seeded vec + one ngram dict per surface
        for i, (s, a, at, mt, w) in enumerate(
            zip(surface, alias, alias_type, mention_type, weight)
        ):
            if a is None or w is None:
                out[i] = 0.0
                continue
            cached = wa_cache.get(s)
            if cached is None:
                wa: dict[str, float] = {}
                for g in _char_ngrams(s):
                    wa[g] = wa.get(g, 0.0) + idf_d.get(g, 1.0)
                na = math.sqrt(sum(x * x for x in wa.values()))
                cached = wa_cache[s] = (wa, na)
            wa, na = cached
            wb, nb = ngw[a]
            dot = sum(x * wb.get(g, 0.0) for g, x in wa.items())
            tf = dot / (na * nb + 1e-12)
            av = vecs.get(a)
            sv = sv_cache.get(s)
            if sv is None:
                sv = sv_cache[s] = _seeded_vec(s)
            emb = float(sv @ av) if av is not None else 0.0
            type_bonus = 0.1 if at == mt else 0.0
            out[i] = 0.6 * tf + 0.3 * emb + 0.1 * float(w) + type_bonus
        return pd.Series(np.round(out, 6))

    scored = cand.withColumn(
        "link_score", rerank("_surface", "alias", "_alias_type", "type", "weight")
    )
    w = Window.partitionBy("_surface", "type").orderBy(
        F.desc("link_score"), F.asc("cui")
    )
    link_map = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            "_surface", "type",
            F.col("cui"),
            F.col("link_score"),
        )
        .withColumn("linked", F.col("cui").isNotNull())
        .withColumn(
            "cui",
            F.coalesce(
                F.col("cui"),
                F.concat(
                    F.lit("NIL"),
                    F.upper(F.substring(
                        F.md5(F.concat_ws(":", "type", "_surface")), 1, 8)),
                ),
            ),
        )
    )
    return m.join(F.broadcast(link_map), ["_surface", "type"]).drop("_surface")
