"""Driver-side twin of Spark's ``xxhash64`` for string keys.

``fetch(ids)`` needs ``bucket = xxhash64(doc_id) % num_buckets`` for a
handful of ids; running a Spark job for that adds a fixed ~0.2-0.3 s
of scheduler latency to every point lookup.  Spark's ``xxhash64`` is
canonical XXH64 with seed 42 over the UTF-8 bytes (strings hash their
bytes directly — no length prefix), so a pure-Python XXH64 reproduces
it bit-exactly; equality with the JVM implementation across every
length class (empty, <4, <8, <32, 32, >32) is pinned in
tests/test_hashing.py.  ``delete`` hashes every requested id with it
too, at 3-6 µs per id (0.32-0.57 s per 100 000 ids on the driver of
a 4-core local session), a third of a delete's O(ids) driver CPU.
"""

from __future__ import annotations

_MASK = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def xxh64(data: bytes, seed: int = 42) -> int:
    """Canonical XXH64 (unsigned).  Default seed 42 = Spark's."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        while i + 32 <= n:
            vs = [v1, v2, v3, v4]
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j:i + 8 * j + 8],
                                      "little")
                v = (vs[j] + lane * _P2) & _MASK
                vs[j] = (_rotl(v, 31) * _P1) & _MASK
            v1, v2, v3, v4 = vs
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7)
             + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        for v in (v1, v2, v3, v4):
            v = (_rotl((v * _P2) & _MASK, 31) * _P1) & _MASK
            h ^= v
            h = (h * _P1 + _P4) & _MASK
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while i + 8 <= n:
        lane = int.from_bytes(data[i:i + 8], "little")
        k = (_rotl((lane * _P2) & _MASK, 31) * _P1) & _MASK
        h ^= k
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        i += 8
    if i + 4 <= n:
        lane = int.from_bytes(data[i:i + 4], "little")
        h ^= (lane * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def spark_xxhash64_str(s: str) -> int:
    """Signed-int64 value equal to Spark SQL ``xxhash64(s)``."""
    u = xxh64(s.encode("utf-8"))
    return u - (1 << 64) if u >= (1 << 63) else u


def bucket_of(doc_id: str, num_buckets: int) -> int:
    """``pmod(xxhash64(doc_id), num_buckets)`` exactly as the salting
    expression computes it (pmod: result follows the divisor's sign)."""
    return spark_xxhash64_str(doc_id) % num_buckets
