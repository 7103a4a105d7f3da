"""Model-input encoding stage (SURVEY.md J1/J2/P4/P6): tokenize -> word
ids (NUM/UNK rules) -> per-char ids (20-char truncation), the exact
reference semantics of app.py:216-252 via the shared
core.oracle.encode_tokens transcription.

Two physical forms behind one size-gated entry point (encode_corpus):

* closure path (encode_corpus_arrow) — the dictionaries are collected and
  shipped in the UDF closure (the reference's pickled-dict shape); ONE
  mapInPandas crossing, zero shuffles.  Right while the vocab fits a task
  closure (reference corpora: ~10^4 words).
* join path (encode_corpus_join) — tokens join the (word, id) / (ch, id)
  dim FRAMES; nothing vocabulary-sized ever reaches the driver or a
  closure, so an unbounded web-corpus vocabulary just becomes an ordinary
  keyed join that AQE broadcasts or shuffles on size.

Both paths apply the SAME <NUM> digit rule — ASCII [0-9]+ (the closure
path passes ascii_digits=True into the shared encode_tokens) — so the
size gate never silently switches semantics on non-ASCII input; the
reference's str.isdigit rule (which also accepts e.g. Arabic-Indic
digits) lives only in the core.oracle parity transcription, and the two
agree on every ASCII corpus.

Measured at sf0.1/local[32] (warm best-of-2): closure 1.42 s, join
1.72 s — the closure wins while the dicts are small, which is why it is
the default below the gate; the join's ~20% premium buys unbounded
vocabulary capacity.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.oracle import MAX_CHAR_LEN, MAX_SEQ_LEN, encode_tokens, tokenize_text
from .stats import collect_if_small

ENCODED_SCHEMA = (
    "doc_id BIGINT, pos BIGINT, token STRING, word_id BIGINT,"
    " char_ids ARRAY<INT>"
)


def encode_corpus_arrow(docs: DataFrame, word_vocab: dict[str, int],
                        char_vocab: dict[str, int],
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Per-token encoded rows (doc_id, pos, token, word_id, char_ids)."""
    import pandas as pd

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # columnar accumulation: pd.DataFrame from per-column lists
            # skips the row-tuple -> block transpose pandas pays for a
            # list-of-tuples constructor (guide §4.2 — keep the Python
            # side of the crossing vectorizable)
            c_did: list = []
            c_pos: list = []
            c_tok: list = []
            c_wid: list = []
            c_cid: list = []
            for did, raw in zip(pdf[id_col], pdf[text_col]):
                toks = tokenize_text(raw or "")
                toks, wids, cseqs, _ = encode_tokens(
                    toks, word_vocab, char_vocab,
                    MAX_SEQ_LEN, MAX_CHAR_LEN, ascii_digits=True)
                c_did.extend([did] * len(toks))
                c_pos.extend(range(len(toks)))
                c_tok.extend(toks)
                c_wid.extend(wids)
                c_cid.extend(cseqs)
            # explicit dtypes: a plain dict constructor lets pandas coerce
            # an empty (or rectangular) char_ids column into a float64 /
            # 2-D ndarray, which Arrow cannot convert to list<int>
            yield pd.DataFrame({
                "doc_id": pd.Series(c_did, dtype="int64"),
                "pos": pd.Series(c_pos, dtype="int64"),
                "token": pd.Series(c_tok, dtype=object),
                "word_id": pd.Series(c_wid, dtype="int64"),
                "char_ids": pd.Series(c_cid, dtype=object),
            })

    return docs.select(id_col, text_col).mapInPandas(
        _run, schema=ENCODED_SCHEMA)


def tokenize_corpus_arrow(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pos, token): the exact-`re` tokenize + P5 truncation as a
    dictionary-free Arrow crossing (nothing in the closure grows with the
    corpus or the vocabulary)."""
    import pandas as pd

    def _tok(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            c_did: list = []
            c_pos: list = []
            c_tok: list = []
            for did, raw in zip(pdf[id_col], pdf[text_col]):
                toks = tokenize_text(raw or "")[:MAX_SEQ_LEN]
                c_did.extend([did] * len(toks))
                c_pos.extend(range(len(toks)))
                c_tok.extend(toks)
            yield pd.DataFrame({
                "doc_id": pd.Series(c_did, dtype="int64"),
                "pos": pd.Series(c_pos, dtype="int64"),
                "token": pd.Series(c_tok, dtype=object),
            })

    return docs.select(id_col, text_col).mapInPandas(
        _tok, schema="doc_id BIGINT, pos BIGINT, token STRING")


def encode_corpus_join(docs: DataFrame, word_vocab: DataFrame,
                       char_vocab: DataFrame,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """J1/J2 as pure relational joins against the dim FRAMES — the
    unbounded-vocabulary path.  word_vocab: (word, id) with ids from 3
    (vocab_build shape); char_vocab: (ch, id) with ids from 2.  <NUM>=2 on
    all-ASCII-digit tokens, <UNK>=1 on misses (app.py:229 rules; Python
    str.isdigit and per-code-point lookup agree with the SQL rule on
    ASCII, the same equivalence the JVM span path documents)."""
    toks = tokenize_corpus_arrow(docs, text_col, id_col)
    wv = word_vocab.select(
        F.col("word").alias("_w"), F.col("id").cast("bigint").alias("_wid"))
    words = (
        toks.withColumn("_w", F.lower("token"))
        .join(wv, "_w", "left")
        .withColumn(
            "word_id",
            F.when(F.col("token").rlike("^[0-9]+$"), F.lit(2))
            .otherwise(F.coalesce("_wid", F.lit(1))).cast("bigint"))
        .drop("_w", "_wid")
    )
    cv = char_vocab.select(
        F.col("ch").alias("_ch"), F.col("id").cast("int").alias("_cid"))
    chars = (
        words.select(
            "doc_id", "pos", "token", "word_id",
            F.posexplode(
                F.split(F.substring("token", 1, MAX_CHAR_LEN), ""))
            .alias("cpos", "_ch"))
        .where(F.col("_ch") != "")
        .join(cv, "_ch", "left")
        .withColumn("_cid", F.coalesce("_cid", F.lit(1)))
    )
    return (
        chars.groupBy("doc_id", "pos", "token", "word_id")
        .agg(F.sort_array(F.collect_list(F.struct("cpos", "_cid"))).alias("e"))
        .select(
            "doc_id", "pos", "token", "word_id",
            F.expr("transform(e, x -> x._cid)").alias("char_ids"))
    )


def encode_corpus(docs: DataFrame, word_vocab: DataFrame,
                  char_vocab: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id"
                  ) -> DataFrame:
    """Size-gated encode: collect the dicts into the one-crossing Arrow
    closure while the vocab is within the driver gate
    (stats.collect_if_small); switch to the relational join path when it
    is not.  Both paths emit ENCODED_SCHEMA and agree on ASCII corpora
    (parametrized test)."""
    head = collect_if_small(word_vocab.select("word", "id"))
    if head is not None:
        wv = {"<PAD>": 0, "<UNK>": 1, "<NUM>": 2}
        wv.update({r["word"]: int(r["id"]) for r in head})
        cv = {"<PAD>": 0, "<UNK>": 1}
        cv.update({r["ch"]: int(r["id"]) for r in
                   char_vocab.select("ch", "id").collect()})
        return encode_corpus_arrow(docs, wv, cv, text_col, id_col)
    return encode_corpus_join(docs, word_vocab, char_vocab,
                              text_col, id_col)
