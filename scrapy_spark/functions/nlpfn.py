"""Model-free NLP enrichment: text stats.

Grafts the reference's NO-MODEL ``get_text_stats``
(``Scraping_project/src/common/nlp.py:626-651``): word count over
``[A-Za-z']+``, char count, sentence count (non-blank ``[.!?]+``
segments), average word length (emitted here as exact integer millis so
the DuckDB driver hash matches — CLAUDE.md quantization rule).

Everything is JVM column expressions (regexp_extract_all + arrays) with a
generated DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_WORD_RE = r"[A-Za-z']+"
_SENT_SPLIT_RE = r"[.!?]+"


# --- text stats (get_text_stats, nlp.py:626-651) ---------------------------


def text_stats_cols(text: Column) -> dict[str, Column]:
    tokens = F.regexp_extract_all(text, F.lit(_WORD_RE), 0)
    n = F.size(tokens)
    sentences = F.filter(
        F.split(text, _SENT_SPLIT_RE), lambda s: F.trim(s) != ""
    )
    total_len = F.aggregate(
        tokens, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    # floor division, exact on both engines: IEEE division of exact integers
    # is correctly rounded, so floor(a/b) == a DIV b for the magnitudes here
    # (round() would differ at .5 — Spark HALF_UP vs DuckDB; CLAUDE.md rule)
    avg_milli = F.when(
        n > 0, F.floor((total_len * 1000) / n).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    return {
        "word_count": n.cast("long").alias("word_count"),
        "char_count": F.length(text).cast("long").alias("char_count"),
        "sentence_count": F.size(sentences).cast("long").alias("sentence_count"),
        "avg_word_len_milli": avg_milli.alias("avg_word_len_milli"),
    }


def sql_text_stats_select(text: str) -> str:
    word_re = _WORD_RE.replace("'", "''")
    toks = f"regexp_extract_all({text}, '{word_re}')"
    sents = (
        f"list_filter(regexp_split_to_array({text}, '{_SENT_SPLIT_RE.replace(chr(92), chr(92) * 2)}'), "
        "s -> trim(s) != '')"
    )
    total = f"list_sum(list_transform({toks}, w -> length(w)))"
    return f"""
           CAST(len({toks}) AS BIGINT) AS word_count,
           CAST(length({text}) AS BIGINT) AS char_count,
           CAST(len({sents}) AS BIGINT) AS sentence_count,
           CAST(CASE WHEN len({toks}) > 0
                THEN floor({total} * 1000 / CAST(len({toks}) AS DOUBLE))
                ELSE 0 END AS BIGINT) AS avg_word_len_milli"""
