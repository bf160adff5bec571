"""Text-analysis functions for the training-data pipeline.

All pure Catalyst column expressions (JVM-side, whole-stage codegen) —
no Python in the hot path. Each has an exact ANSI-SQL twin used as the
DuckDB oracle in __spark_entry__.py, so expressions are deliberately
written from primitives (split/filter/length) that behave identically
in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tiny per-language stopword marker lists (heuristic language ID).
LANG_MARKERS = {
    "en": ("the", "and"),
    "de": ("der", "und"),
    "fr": ("le", "et"),
    "es": ("el", "y"),
}


def word_array(text: Column) -> Column:
    """Whitespace tokenization (the baseline token counter)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(word_array(text))


def word_occurrences(text: Column, word: str) -> Column:
    """Exact-token occurrence count (not substring)."""
    return F.size(F.filter(word_array(text), lambda w: w == F.lit(word)))


def _in(tok: Column, words: tuple[str, ...]) -> Column:
    out = F.lit(False)
    for w in words:
        out = out | (tok == F.lit(w))
    return out


def punct_count(text: Column) -> Column:
    """Periods+commas via length-difference (portable to ANSI SQL)."""
    stripped = F.replace(F.replace(text, F.lit("."), F.lit("")), F.lit(","), F.lit(""))
    return F.length(text) - F.length(stripped)


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/stopword/punct quality signals + a composite keep-flag
    (the classic pre-training quality filter shape)."""
    t = F.col(text_col)
    out = df.withColumn("n_words", token_count(t))
    out = out.withColumn(
        "avg_word_len",
        F.round((F.length(F.trim(t)) - (F.col("n_words") - 1)) / F.col("n_words"), 4),
    )
    out = out.withColumn(
        "stopword_ratio",
        F.round(word_occurrences(t, "the") / F.col("n_words"), 4),
    )
    out = out.withColumn("punct_ratio", F.round(punct_count(t) / F.length(t), 4))
    return out.withColumn(
        "quality_ok",
        (F.col("n_words") >= 5)
        & (F.col("avg_word_len") >= 2.0)
        & (F.col("avg_word_len") <= 12.0),
    )


def lang_scores(text: Column) -> dict[str, Column]:
    return {
        lang: _in_count(text, markers) for lang, markers in LANG_MARKERS.items()
    }


def _in_count(text: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(word_array(text), lambda t: _in(t, words)))


def lang_id(text: Column) -> Column:
    """Argmax of marker-token counts, 'unk' when all zero; ties resolved
    by fixed precedence en>de>fr>es (mirrored exactly in the SQL twin)."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    out = F.lit("unk")
    for lang in ("es", "fr", "de", "en"):  # later wins ties -> en highest precedence
        out = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(out)
    return out


def vocab_top_k(
    df: DataFrame, k: int = 100, text_col: str = "text",
) -> DataFrame:
    """Corpus token-frequency table, top-k by count (the input to
    tokenizer/vocab fitting): (token, n_occurrences, n_docs). Ties
    break on the token string ascending so the result is deterministic.

    Scale shape: explode(words) is map-side fan-out feeding ONE
    map-side-combinable aggregation keyed by token (count + per-doc
    presence via count(distinct) replaced with a two-level agg — the
    (token, doc) pre-aggregation is itself partial-aggregated, so a
    stopword appearing 10^9 times collapses to one row per partition
    before the wire, exactly the hot-key discipline the LWW dedupe
    uses). The top-k is TakeOrderedAndProject — no global sort ever
    materializes a corpus-sized ordering.
    """
    ex = df.select(
        F.col("doc_id"), F.explode(word_array(F.col(text_col))).alias("token")
    )
    per_doc = ex.groupBy("token", "doc_id").agg(F.count("*").alias("n"))
    agg = per_doc.groupBy("token").agg(
        F.sum("n").alias("n_occurrences"),
        F.count("*").alias("n_docs"),
    )
    return agg.orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    ).limit(k)


def sql_vocab_top_k(
    k: int = 100, table: str = "documents", text_col: str = "text",
) -> str:
    words = f"regexp_split_to_array(trim({text_col}), '\\s+')"
    return f"""
        SELECT token, CAST(sum(n) AS BIGINT) AS n_occurrences,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM (
          SELECT token, doc_id, count(*) AS n
          FROM (SELECT doc_id, UNNEST({words}) AS token FROM {table}) t0
          GROUP BY token, doc_id
        ) t1
        GROUP BY token
        ORDER BY n_occurrences DESC, token ASC
        LIMIT {k}
    """


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint (md5 — identical in DuckDB)."""
    return F.md5(text)


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-shingles as space-joined strings (may contain duplicates —
    every consumer aggregates duplicate-insensitively: min() minhash,
    collect_set() jaccard blocking).

    Codegen shape: overlapping k-grams extracted in ONE regex pass
    (zero-width lookahead capture anchored to post-space positions on a
    space-normalized, space-prefixed copy). The previous formulation —
    F.transform over an index sequence with slice+concat_ws per element
    — is an interpreted higher-order function and was the single
    hottest expression in the near-dup pipeline (~60% of signature
    time at sf0.1). Docs with fewer than k words fall back to one
    whole-text shingle, exactly like slice() used to produce."""
    norm = F.regexp_replace(F.trim(text), r"\s+", " ")
    pat = "(?<= )(?=(" + " ".join(["\\S+"] * k) + "))"
    matches = F.regexp_extract_all(F.concat(F.lit(" "), norm), F.lit(pat), F.lit(1))
    return F.when(F.size(matches) == 0, F.array(norm)).otherwise(matches)
