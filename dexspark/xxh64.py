"""Pure-Python XXH64 matching Spark's ``F.xxhash64`` (seed 42).

The test suite's Python reference for Spark's ``xxhash64``: the FIM
gate and cut points (operators/fim.py) and DSIR's hashed n-gram
features (operators/dsir.py) are hash-derived in the JVM, and
tests/test_fim.py and tests/test_dsir.py rebuild them in Python with
this module to compare row for row. It reimplements the XXH64 variants
Spark's ``XxHash64Function`` uses (catalyst hash.scala / XXH64.java —
public Apache Spark source), byte-for-byte:

- strings hash their UTF-8 bytes via the general byte-array routine;
- longs (and ints, which Spark widens through ``hashInt``) use the
  fixed-width fast paths.

Parity with the JVM implementation is pinned by
tests/test_fim.py::test_python_xxh64_matches_spark over strings,
ints, longs, and edge values. All arithmetic is mod 2^64; the result
is reinterpreted as a SIGNED 64-bit value exactly like Spark's
LongType output, so ``bucket_of`` reproduces the engine's bucket
assignment (lake.py bucketing expr) without a JVM round trip.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1

SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _hash_bytes(data: bytes, seed: int = SPARK_SEED) -> int:
    length = len(data)
    i = 0
    if length >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        end = length - 32
        while i <= end:
            v1 = (_rotl((v1 + int.from_bytes(data[i : i + 8], "little") * _P2) & _M, 31) * _P1) & _M
            v2 = (_rotl((v2 + int.from_bytes(data[i + 8 : i + 16], "little") * _P2) & _M, 31) * _P1) & _M
            v3 = (_rotl((v3 + int.from_bytes(data[i + 16 : i + 24], "little") * _P2) & _M, 31) * _P1) & _M
            v4 = (_rotl((v4 + int.from_bytes(data[i + 24 : i + 32], "little") * _P2) & _M, 31) * _P1) & _M
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ (_rotl((v * _P2) & _M, 31) * _P1) & _M) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + length) & _M
    while i + 8 <= length:
        k1 = (_rotl((int.from_bytes(data[i : i + 8], "little") * _P2) & _M, 31) * _P1) & _M
        h = (_rotl(h ^ k1, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= length:
        h = (_rotl(h ^ ((int.from_bytes(data[i : i + 4], "little") * _P1) & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < length:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    return _fmix(h)


def _hash_long(value: int, seed: int = SPARK_SEED) -> int:
    h = (seed + _P5 + 8) & _M
    k1 = (_rotl((value & _M) * _P2 & _M, 31) * _P1) & _M
    h = (_rotl(h ^ k1, 27) * _P1 + _P4) & _M
    return _fmix(h)


def _hash_int(value: int, seed: int = SPARK_SEED) -> int:
    h = (seed + _P5 + 4) & _M
    h = (_rotl(h ^ ((value & 0xFFFFFFFF) * _P1 & _M), 23) * _P2 + _P3) & _M
    return _fmix(h)


def _signed(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def xxhash64(value, dtype: str = "string", seed: int = SPARK_SEED) -> int:
    """Spark-equal ``xxhash64(value)`` as a signed 64-bit int.

    ``dtype``: "string" (UTF-8 bytes), "long"/"bigint" (8-byte fast
    path — Spark hashes LongType this way), "int"/"integer"
    (4-byte fast path).
    """
    if value is None:
        raise ValueError("NULL keys have no hash (Spark passes the seed through)")
    if dtype in ("string", "varchar"):
        return _signed(_hash_bytes(str(value).encode("utf-8"), seed))
    if dtype in ("long", "bigint"):
        return _signed(_hash_long(int(value), seed))
    if dtype in ("int", "integer", "short", "smallint", "byte", "tinyint"):
        # Spark widens byte/short/int through hashInt
        return _signed(_hash_int(int(value), seed))
    raise ValueError(f"unsupported key dtype for python xxhash64: {dtype!r}")


def bucket_of(value, num_buckets: int, dtype: str = "string") -> int:
    """Spark's ``pmod(xxhash64(key), num_buckets)`` — the engine's
    bucket assignment (lake.py), computed driver-side."""
    return xxhash64(value, dtype) % num_buckets
