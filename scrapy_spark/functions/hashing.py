"""Pure-Python xxHash64 matching Spark's ``F.xxhash64`` (seed 42).

Spark keys every URL with ``xxhash64(canonical_url)`` (BASELINE.json mandates
xxhash64 keys; the reference uses sha256 hex, SURVEY §1.3 — the *decision
function* "first writer of canonicalize(url) wins" is what must match, see
``Scraping_project/src/common/url_deduplication.py:91-129`` in the reference).
The sequential oracle (plans/oracle.py) runs driver-side without the JVM, so
it needs a bit-exact Python implementation of the same hash.

Algorithm: public xxHash64 spec (Yann Collet, BSD),
https://github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md.
Spark semantics verified by tests/test_hashing.py against ``F.xxhash64``:
StringType -> XXH64(utf8 bytes, seed=42).
"""

from __future__ import annotations

import struct

_MASK = 0xFFFFFFFFFFFFFFFF
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _MASK
    return (_rotl(acc, 31) * _P1) & _MASK


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _MASK


def _avalanche(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def xxh64(data: bytes, seed: int = SPARK_SEED) -> int:
    """XXH64 of a byte string; returns unsigned 64-bit int."""
    n = len(data)
    off = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        limit = n - 32
        while off <= limit:
            lanes = struct.unpack_from("<4Q", data, off)
            v1 = _round(v1, lanes[0])
            v2 = _round(v2, lanes[1])
            v3 = _round(v3, lanes[2])
            v4 = _round(v4, lanes[3])
            off += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while off + 8 <= n:
        (k1,) = struct.unpack_from("<Q", data, off)
        h ^= _round(0, k1)
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        off += 8
    if off + 4 <= n:
        (k1,) = struct.unpack_from("<I", data, off)
        h ^= (k1 * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        off += 4
    while off < n:
        h ^= (data[off] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        off += 1
    return _avalanche(h)


def to_signed(u: int) -> int:
    """Unsigned 64-bit -> signed (Spark's LongType representation)."""
    return u - (1 << 64) if u >= (1 << 63) else u


def spark_xxhash64_str(s: str, seed: int = SPARK_SEED) -> int:
    """Bit-exact equivalent of Spark SQL ``xxhash64(string_col)`` (signed)."""
    return to_signed(xxh64(s.encode("utf-8"), seed))
