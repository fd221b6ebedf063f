"""Text-analysis operators over the documents table: token stats, quality
scoring, stopword-ratio language heuristic, document fingerprinting.

Each query is a narrow, codegen'd column-expression pipeline with a
matching DuckDB oracle SQL string (value-identical by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from relieff_lsh_spark.barrier import barrier
from pyspark.sql import functions as F

from relieff_lsh_spark.operators.dedup_docs import (
    _TOKS,
    _sh_cte,
    shingle_hashes_expr,
    token_word_hashes,
    tokens,
)
from relieff_lsh_spark.spread import spread

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def q_token_stats(docs: DataFrame) -> DataFrame:
    toks = tokens("text")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_text"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(
            F.aggregate(toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t))
            / F.size(toks),
            6,
        ).alias("avg_token_len"),
    )


def q_quality_score(docs: DataFrame) -> DataFrame:
    """Length + lexical-diversity quality heuristic (training-data filter)."""
    toks = tokens("text")
    diversity = F.size(F.array_distinct(toks)) / F.size(toks)
    length_ok = (F.size(toks) >= 20) & (F.size(toks) <= 1000)
    return docs.select(
        "doc_id",
        F.round(diversity, 6).alias("diversity"),
        length_ok.cast("int").alias("length_ok"),
        F.round(diversity * length_ok.cast("int"), 6).alias("quality"),
    )


def q_stopword_langid(docs: DataFrame) -> DataFrame:
    """Stopword-density language heuristic: declared-lang vs text-evidence."""
    toks = tokens("text")
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    ratio = F.round(n_stop / F.size(toks), 6)
    return docs.select(
        "doc_id",
        "lang",
        n_stop.alias("n_stopwords"),
        ratio.alias("stopword_ratio"),
        F.when(ratio >= 0.05, F.lit("en_like")).otherwise(F.lit("other")).alias("lang_guess"),
    )


# GPT-style pre-tokenizer shape without lookaheads (portable between Java
# regex and DuckDB's RE2): contractions, letter runs, <=3-digit runs (modern
# tokenizers chunk digits in threes), punctuation runs; each optionally
# space-prefixed.
BPE_RE = r"'[a-z]+| ?[A-Za-z]+| ?[0-9]{1,3}| ?[^A-Za-z0-9 ]+"


def q_bpe_token_count(docs: DataFrame) -> DataFrame:
    """Token counting two ways (training-data budget estimation): whitespace
    words vs a BPE-ish pre-tokenizer regex, plus their ratio (tokens per
    word ~ the 'fertility' a tokenizer report quotes)."""
    toks = tokens("text")
    bpe = F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), F.lit(0))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        F.round(F.size(bpe) / F.size(toks), 6).alias("tokens_per_word"),
    )


def q_doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Winnowing-style fingerprint: min/max 64-bit Horner shingle hash over
    the document's distinct shingle set (the corpus pipeline's
    minimizer-key idea at sketch size 2). Shingle identity is the (h1, h2)
    Horner pair (dedup_docs module docstring); the h1*2^32+h2 pack would
    overflow int64, so the fingerprint is the PAIR-lexicographic min/max,
    carried as its two words (struct ordering is field-lexicographic in
    both engines)."""
    # spread() for the same reason as dedup_docs._shingled: the Horner
    # chains above this scan are the cost, and a single-file demo scan
    # plans 1-4 tasks (relieff_lsh_spark/spread.py; no-op at scale).
    d0 = barrier(spread(docs).select(
        "doc_id", token_word_hashes("text").alias("tw")
    ), eager=False)
    sh = d0.select(
        "doc_id", shingle_hashes_expr(F.col("tw")).alias("sh")
    ).where(F.size("sh") > 0)
    mn, mx = F.array_min("sh"), F.array_max("sh")
    return sh.select(
        "doc_id",
        mn["h1"].alias("fp_min_h1"), mn["h2"].alias("fp_min_h2"),
        mx["h1"].alias("fp_max_h1"), mx["h2"].alias("fp_max_h2"),
        F.size("sh").alias("n_shingles"),
    )


_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

SQL_TOKEN_STATS = f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS tk FROM documents)
SELECT doc_id,
       len(tk) AS n_tokens,
       length(text) AS n_chars_text,
       len(list_distinct(tk)) AS n_distinct_tokens,
       round(list_sum(list_transform(tk, x -> length(x))) * 1.0 / len(tk), 6) AS avg_token_len
FROM t
"""

SQL_QUALITY_SCORE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS tk FROM documents)
SELECT doc_id,
       round(len(list_distinct(tk)) * 1.0 / len(tk), 6) AS diversity,
       CASE WHEN len(tk) BETWEEN 20 AND 1000 THEN 1 ELSE 0 END AS length_ok,
       round(len(list_distinct(tk)) * 1.0 / len(tk)
             * (CASE WHEN len(tk) BETWEEN 20 AND 1000 THEN 1 ELSE 0 END), 6) AS quality
FROM t
"""

SQL_STOPWORD_LANGID = f"""
WITH t AS (SELECT doc_id, lang, {_TOKS} AS tk FROM documents)
SELECT doc_id, lang,
       len(list_filter(tk, x -> list_contains({_STOP_SQL}, x))) AS n_stopwords,
       round(len(list_filter(tk, x -> list_contains({_STOP_SQL}, x))) * 1.0 / len(tk), 6)
         AS stopword_ratio,
       CASE WHEN round(len(list_filter(tk, x -> list_contains({_STOP_SQL}, x))) * 1.0
                       / len(tk), 6) >= 0.05
            THEN 'en_like' ELSE 'other' END AS lang_guess
FROM t
"""

_BPE_SQL_RE = BPE_RE.replace("'", "''")

SQL_BPE_TOKEN_COUNT = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS tk,
                  regexp_extract_all(text, '{_BPE_SQL_RE}') AS bpe
           FROM documents)
SELECT doc_id, len(tk) AS n_ws_tokens, len(bpe) AS n_bpe_tokens,
       round(len(bpe) * 1.0 / len(tk), 6) AS tokens_per_word
FROM t
"""

SQL_DOC_FINGERPRINT = f"""
WITH {_sh_cte('documents')},
agg AS (
  SELECT doc_id,
         min(struct_pack(h1 := h1, h2 := h2)) AS mn,
         max(struct_pack(h1 := h1, h2 := h2)) AS mx,
         count(*) AS n_shingles
  FROM sh GROUP BY doc_id)
SELECT doc_id,
       mn.h1 AS fp_min_h1, mn.h2 AS fp_min_h2,
       mx.h1 AS fp_max_h1, mx.h2 AS fp_max_h2,
       n_shingles::INT AS n_shingles
FROM agg
"""
