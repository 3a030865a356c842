"""Cuckoo-filter prefilter (operators/cuckoo.py, the dedup_cuckoo_antijoin
kernel): kernel guarantees (no false negatives, deterministic layout) and
shard-wise cogroup probe equivalence to the plain anti-join."""

from __future__ import annotations

import inspect

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from scrapy_spark.operators import cuckoo

N_SHARDS = 256

rng = np.random.default_rng(7)


def _keys(n: int, lo=-(2**62), hi=2**62) -> np.ndarray:
    return rng.integers(lo, hi, size=n, dtype=np.int64)


# ------------------------------------------------------------------ kernel


def test_no_false_negatives_and_fp_rate():
    t = cuckoo.new_table()
    ins = np.unique(_keys(8000))  # ~49% load at 4096x4 slots
    cuckoo.insert_hashes(t, ins)
    assert cuckoo.check_hashes(t, ins).all()  # every inserted key: maybe
    other = np.setdiff1d(_keys(20000), ins)
    fp_rate = cuckoo.check_hashes(t, other).mean()
    # ε ≈ 2*SLOTS/2^16 ≈ 1.2e-4 at low load; allow 20x slack for load
    assert fp_rate < 2.5e-3, fp_rate


def test_deterministic_table_bytes():
    ins = np.unique(_keys(5000))
    t1, t2 = cuckoo.new_table(), cuckoo.new_table()
    cuckoo.insert_hashes(t1, ins)
    cuckoo.insert_hashes(t2, rng.permutation(ins))  # order-independent
    assert t1.tobytes() == t2.tobytes()


def test_insert_raises_when_full():
    t = cuckoo.new_table()
    t[:] = 7  # artificially saturated: every slot occupied
    with pytest.raises(ValueError, match="full"):
        cuckoo.insert_hashes(t, np.array([12345], dtype=np.int64))


def test_no_driver_materialization():
    """The module never collects filter bytes to the driver nor broadcasts
    them from it."""
    src = inspect.getsource(cuckoo)
    assert ".collect(" not in src
    assert ".broadcast(" not in src


# ------------------------------------------------------------------- spark


def _mk(spark, n, offset=0):
    pdf = pd.DataFrame(
        {"url": [f"https://s.uconn.edu/c{i}" for i in range(offset, offset + n)]}
    )
    return spark.createDataFrame(pdf).withColumn("url_hash", F.xxhash64("url"))


def test_cuckoo_antijoin_equivalence(spark):
    seen = _mk(spark, 500).cache()
    rows = cuckoo.build_cuckoo_rows(seen, n_shards=N_SHARDS)
    cands = _mk(spark, 700, offset=200)  # 300 overlap, 400 new
    got = cuckoo.cuckoo_prefilter_anti_join(cands, seen, rows, n_shards=N_SHARDS)
    want = cands.join(seen.select("url_hash"), "url_hash", "left_anti")
    assert sorted(r["url"] for r in got.collect()) == sorted(
        r["url"] for r in want.collect()
    )
    assert got.columns == cands.columns
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan  # shard-wise cogroup probe
    seen.unpersist()


def test_cuckoo_negative_shards_pass_through(spark):
    one = _mk(spark, 1).cache()
    rows = cuckoo.build_cuckoo_rows(one, n_shards=N_SHARDS)
    cands = _mk(spark, 200, offset=1000)
    got = cuckoo.cuckoo_prefilter_anti_join(cands, one, rows, n_shards=N_SHARDS)
    assert got.count() == 200
    one.unpersist()
