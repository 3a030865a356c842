"""Partitioned cuckoo-filter prefilter for the seen-set anti-join (D1,
SURVEY §2.3) — the kernel behind the ``dedup_cuckoo_antijoin`` driver query.

Candidates − seen, prefiltered: one cuckoo filter per hash shard
(``pmod(url_hash, N_SHARDS)``) built on the executors, a shard-wise cogroup
probe, and the maybe-rows confirmed by the exact anti-join against the seen
keys. The per-shard filter is a cuckoo filter (Fan et al., "Cuckoo Filter:
Practically Better Than Bloom", CoNEXT 2014 — public paper): each key stores
a 16-bit fingerprint in one of two XOR-linked buckets of ``SLOTS`` slots, so
a probe reads 2 × ``SLOTS`` contiguous uint16 slots at a ~1.2e-4
false-positive rate (ε ≈ 2·SLOTS/2^16).

The alternate bucket is ``i2 = i1 XOR remix(fp)`` over a power-of-two
bucket count — an involution, so an entry can be re-homed knowing only its
CURRENT bucket and fingerprint (the kick-out loop relies on it).

Reference parity: the seen-set SEMANTICS are the reference's atomic
add_if_new on a SQLite hash PK (``SP/src/common/url_deduplication.py:91-129``);
filter-negative rows are guaranteed-new (no false negatives), so the result
equals the plain anti-join — the ``j_seen_antijoin_tiers`` query pins that.
The crawl runs the plain anti-join (``frontier.anti_join_seen``) alone: the
maybe-rows still go through that join, so a prefilter cannot spare its scan.

Determinism: per-shard inserts happen in sorted url_hash order, so filter
bytes are bit-stable across re-runs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .frontier import N_SHARDS

N_BUCKETS = 1 << 12  # buckets per shard filter (power of two — XOR involution)
SLOTS = 4  # fingerprints per bucket
MAX_KICKS = 500

_BUCKET_MASK = np.uint64(N_BUCKETS - 1)

_SPLITMIX = np.uint64(0x9E3779B97F4A7C15)
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)


def _remix(x: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 remix over uint64 arrays."""
    with np.errstate(over="ignore"):
        z = x + np.uint64(salt) * _SPLITMIX
        z = (z ^ (z >> np.uint64(30))) * _MIX1
        z = (z ^ (z >> np.uint64(27))) * _MIX2
        return z ^ (z >> np.uint64(31))


def _fingerprints(hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(n,) int64 xxhash keys -> (fp uint16 nonzero, i1, i2) arrays."""
    x = hashes.astype(np.uint64)
    fp = (_remix(x, 1) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1  # 0 is the empty-slot sentinel
    i1 = (_remix(x, 2) & _BUCKET_MASK).astype(np.int64)
    i2 = i1 ^ _alt_offset(fp)
    return fp, i1, i2


def _alt_offset(fp: np.ndarray) -> np.ndarray:
    """XOR offset between an entry's two buckets, derived from fp alone."""
    return (_remix(fp.astype(np.uint64), 3) & _BUCKET_MASK).astype(np.int64)


def new_table() -> np.ndarray:
    return np.zeros((N_BUCKETS, SLOTS), dtype=np.uint16)


def _bulk_place(table: np.ndarray, fp: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Place entries into empty slots of their bucket ``b`` (vectorized;
    first-wins per (bucket, slot) within the batch). Returns placed mask."""
    placed = np.zeros(len(fp), dtype=bool)
    for slot in range(SLOTS):
        cand = np.flatnonzero(~placed & (table[b, slot] == 0))
        if cand.size == 0:
            continue
        _, first = np.unique(b[cand], return_index=True)
        win = cand[first]
        table[b[win], slot] = fp[win]
        placed[win] = True
    return placed


def _kick_insert(table: np.ndarray, f: int, b: int) -> None:
    """Scalar kick-out insertion (deterministic victim rotation)."""
    fp1 = np.array([f], dtype=np.uint16)
    for bb in (b, int(b ^ _alt_offset(fp1)[0])):
        row = table[bb]
        empty = np.flatnonzero(row == 0)
        if empty.size:
            row[empty[0]] = f
            return
    cur_b = b
    for k in range(MAX_KICKS):
        slot = k % SLOTS
        victim = int(table[cur_b, slot])
        table[cur_b, slot] = f
        f = victim
        cur_b = int(cur_b ^ _alt_offset(np.array([f], dtype=np.uint16))[0])
        row = table[cur_b]
        empty = np.flatnonzero(row == 0)
        if empty.size:
            row[empty[0]] = f
            return
    raise ValueError(
        "cuckoo filter shard full (load too high) — raise N_BUCKETS or N_SHARDS"
    )


def insert_hashes(table: np.ndarray, hashes: np.ndarray) -> None:
    """Insert xxhash64 keys (sorted internally for bit-stable layout).
    Vectorized empty-slot placement in either bucket first; the collision
    tail (rare below ~70% load) goes through the deterministic scalar
    kick-out loop."""
    fp, b, alt = _fingerprints(np.sort(hashes.astype(np.int64)))
    rem = np.flatnonzero(~_bulk_place(table, fp, b))
    if rem.size:
        placed2 = _bulk_place(table, fp[rem], alt[rem])
        for j in np.flatnonzero(~placed2):
            _kick_insert(table, int(fp[rem[j]]), int(b[rem[j]]))


def check_hashes(table: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """True where maybe-seen; False = DEFINITELY new (no false negatives)."""
    fp, i1, i2 = _fingerprints(hashes.astype(np.int64))
    return ((table[i1] == fp[:, None]).any(axis=1)) | (
        (table[i2] == fp[:, None]).any(axis=1)
    )


def build_cuckoo_rows(keys: DataFrame, n_shards: int = N_SHARDS) -> DataFrame:
    """(url_hash) keys -> one (shard, tbl) filter row per shard, built ON THE
    EXECUTORS (groupBy(shard).applyInPandas; the driver never holds filter
    bytes). No repartition(n_shards): groupBy already hash-shuffles by
    shard, and task count must never be coupled to shard count."""

    def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        table = new_table()
        insert_hashes(table, pdf["url_hash"].to_numpy(np.int64))
        return pd.DataFrame(
            [{"shard": int(pdf["shard"].iloc[0]), "tbl": table.tobytes()}]
        )

    return (
        keys.select(
            "url_hash", F.pmod(F.col("url_hash"), F.lit(n_shards)).alias("shard")
        )
        .groupBy("shard")
        .applyInPandas(per_shard, schema="shard int, tbl binary")
    )


def cuckoo_prefilter_anti_join(
    cands: DataFrame,
    seen: DataFrame,
    filter_rows: DataFrame | None,
    n_shards: int = N_SHARDS,
) -> DataFrame:
    """candidates − seen, cuckoo-prefiltered: filter-negative rows pass
    straight through (guaranteed new); only maybe-seen rows hit the exact
    anti-join. Shard-wise cogroup — each task holds only its own shards'
    filter rows, no process ever materializes the full filter set."""
    if filter_rows is None:
        return cands.join(seen.select("url_hash"), "url_hash", "left_anti")
    cols = cands.columns
    with_shard = cands.withColumn(
        "_shard", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int")
    )

    def check(cand_pdf: pd.DataFrame, flt_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return cand_pdf.assign(_maybe=pd.Series([], dtype=bool))
        if flt_pdf.empty:
            return cand_pdf.assign(_maybe=False)  # no filter -> definitely new
        maybe = np.zeros(len(cand_pdf), dtype=bool)
        h = cand_pdf["url_hash"].to_numpy(np.int64)
        for blob in flt_pdf["tbl"]:  # one filter row per shard
            t = np.frombuffer(blob, dtype=np.uint16).reshape(N_BUCKETS, SLOTS)
            maybe |= check_hashes(t, h)
        return cand_pdf.assign(_maybe=maybe)

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in with_shard.schema.fields
    )
    flagged = (
        with_shard.groupBy("_shard")
        .cogroup(filter_rows.groupBy("shard"))
        .applyInPandas(check, schema=schema + ", _maybe boolean")
    )
    definite_new = flagged.filter(~F.col("_maybe")).drop("_maybe", "_shard")
    maybe = (
        flagged.filter(F.col("_maybe"))
        .drop("_maybe", "_shard")
        .join(seen.select("url_hash"), "url_hash", "left_anti")
    )
    return definite_new.select(cols).unionByName(maybe.select(cols))
