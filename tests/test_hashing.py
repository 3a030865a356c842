"""xxhash64 parity: our pure-Python XXH64 must be bit-exact with Spark's
``F.xxhash64`` (the key function for the URL-seen set, SURVEY §1.3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from scrapy_spark.functions.hashing import spark_xxhash64_str, xxh64

VECTORS = [
    "",
    "a",
    "abc",
    "https://uconn.edu",
    "https://admissions.uconn.edu/apply?a=1&b=2",
    "x" * 31,
    "x" * 32,
    "y" * 33,
    "z" * 100,
    "héllo wörld ünïcode ✓",
]


def test_xxh64_known_vector():
    # public reference vector: XXH64("", seed=0) = 0xEF46DB3751D8E999
    assert xxh64(b"", seed=0) == 0xEF46DB3751D8E999
    # XXH64("xxhash", seed=0) per xxHash spec examples
    assert xxh64(b"Nobody inspects the spammish repetition", 0) == 0xFBCEA83C8A378BF1


def test_string_parity_with_spark(spark):
    df = spark.createDataFrame([(s,) for s in VECTORS], ["s"])
    got = {r["s"]: r["h"] for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in VECTORS:
        assert got[s] == spark_xxhash64_str(s), s
