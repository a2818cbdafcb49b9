"""Text-analysis operators over the documents table.

Training-data-pipeline surface (driver requirement): language-ID
heuristics, quality scoring, token counting, document fingerprinting —
all expressed relationally (explode + join + agg) or as JVM column
expressions so they survive 100 TB: tokenization is a narrow map, token
ids are a shuffle-free md5-derived hash (token_tid — no dictionary
build), and every scoring aggregate is a partial-combining hash-agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

M31 = 2147483647

#: tiny English stopword list shared with the oracle SQL (sorted).
EN_STOPWORDS = ["a", "an", "and", "are", "in", "is", "of", "on", "the", "to"]


def tokens(df: DataFrame, text_col: str = "text",
           id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pos, token) — whitespace tokenization via posexplode."""
    return df.select(
        id_col, F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "token"))


def token_tid(col) -> F.Column:
    """Shuffle-free 48-bit token id: the first 12 hex chars of md5(token)
    parsed as an integer. A pure narrow map — no dictionary build, no
    join, no sort — so token ids cost nothing at 100 TB. Deterministic
    across engines: DuckDB replays it as
    ``CAST('0x' || substring(md5(token), 1, 12) AS BIGINT)``
    (see token_tid_sql). 48 bits keeps Lehmer arithmetic
    ``((tid % M31) * a + b) % M31`` inside int64 on both engines and
    makes vocab collisions negligible below ~10^6 tokens (birthday
    bound n²/2^49); widen to 15 hex chars if a web-scale vocab needs it.
    """
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def token_tid_sql(col: str = "token") -> str:
    """ANSI/DuckDB replay of token_tid — identical integers per token."""
    return f"CAST('0x' || substring(md5({col}), 1, 12) AS BIGINT)"


def quality_scores(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-doc quality metrics: token count, average token length,
    stopword ratio — the classic pretraining quality filters, all from
    one explode + hash-agg."""
    t = tokens(df, text_col, id_col)
    stop = F.col("token").isin(EN_STOPWORDS)
    return t.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(F.length("token")), 4).alias("avg_tok_len"),
        F.round(F.avg(stop.cast("double")), 4).alias("stop_ratio"),
    )


def lang_signal(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Language-ID heuristic signal: English-stopword hit ratio + a latin
    [a-z] character ratio; `en_guess` = stopword ratio above threshold."""
    t = tokens(df, text_col, id_col)
    stop = F.col("token").isin(EN_STOPWORDS)
    g = t.groupBy(id_col).agg(F.avg(stop.cast("double")).alias("sr"))
    return g.select(
        id_col,
        F.round(F.col("sr"), 4).alias("stop_ratio"),
        (F.col("sr") >= F.lit(0.08)).cast("int").alias("en_guess"),
    )


def regex_token_count(df: DataFrame, pattern: str = "[a-z]+",
                      text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """BPE-ish regex token counting — JVM regexp, no Python."""
    return df.select(
        id_col,
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0)).alias("n_matches"),
    )


def fingerprint(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Order-sensitive document fingerprint: rolling weighted token hash
    Σ len(token_p)·31^(p mod 8) mod (10^9+7) — integer arithmetic only,
    replayable in ANSI SQL. Fits in int64: len≤64 · 31^7 · 64 tokens."""
    t = tokens(df, text_col, id_col)
    weight = F.pow(F.lit(31.0), (F.col("pos") % 8).cast("double")).cast("long")
    term = F.length("token").cast("long") * weight
    return t.groupBy(id_col).agg(
        (F.sum(term) % F.lit(1_000_000_007)).cast("long").alias("fp"))
