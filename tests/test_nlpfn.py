"""Model-free NLP enrichment (functions/nlpfn): the Spark text-stats
expressions reproduce the reference's get_text_stats semantics."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from scrapy_spark.functions import nlpfn


def test_text_stats_reference_semantics(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "t": ["One two! Three?? four... ab"]})
    )
    cols = nlpfn.text_stats_cols(F.col("t"))
    r = df.select("doc_id", *cols.values()).collect()[0]
    # tokens: One two Three four ab -> 5 words, sum len 3+3+5+4+2=17
    assert r["word_count"] == 5
    assert r["sentence_count"] == 4  # 'One two', 'Three', 'four', 'ab'
    assert r["char_count"] == len("One two! Three?? four... ab")
    assert r["avg_word_len_milli"] == 17 * 1000 // 5
