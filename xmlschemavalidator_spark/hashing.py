"""Pure-Python XXH64 compatible with Spark's ``xxhash64`` expression.

Why this exists: the JVM-side SimHash (:func:`dedup.simhash`) hashes
tokens with ``xxhash64``; its driver-side replica (:func:`dedup.simhash_py`)
and the cross-implementation parity test need the same hash in plain
Python.

Spark hashes a string column with ``hashUnsafeBytes`` over its UTF-8
bytes (standard XXH64 body), seeded with 42 unless set.  Mirrored from the
published algorithm (xxHash, Yann Collet) as implemented in Spark's
``sql/catalyst/expressions/XXH64.java``; correctness is pinned by
tests/test_hashing.py comparing against the real ``F.xxhash64`` on a value
sweep.

Everything here is driver-side, tiny-input arithmetic — never put this in a
row path (the JVM expression is the row path).
"""

from __future__ import annotations

_MASK64 = (1 << 64) - 1

PRIME64_1 = 0x9E3779B185EBCA87
PRIME64_2 = 0xC2B2AE3D27D4EB4F
PRIME64_3 = 0x165667B19E3779F9
PRIME64_4 = 0x85EBCA77C2B2AE63
PRIME64_5 = 0x27D4EB2F165667C5

SPARK_SEED = 42  # Spark's default xxhash64 seed

# signed-long powers of two (index 63 = the long sign bit) — the shared
# bit-mask table for JVM-side bit manipulation (SimHash votes);
# PySpark's shiftleft only takes a Python-int shift, so masking
# by a COLUMN bit index needs an element_at over this table
SIGNED_POW2 = [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]


def _rotl(x: int, r: int) -> int:
    x &= _MASK64
    return ((x << r) | (x >> (64 - r))) & _MASK64


def _fmix(h: int) -> int:
    h &= _MASK64
    h ^= h >> 33
    h = (h * PRIME64_2) & _MASK64
    h ^= h >> 29
    h = (h * PRIME64_3) & _MASK64
    h ^= h >> 32
    return h


def _to_signed(h: int) -> int:
    h &= _MASK64
    return h - (1 << 64) if h >= (1 << 63) else h


def _to_unsigned(v: int) -> int:
    return v & _MASK64


def xxh64_bytes(data: bytes, seed: int = SPARK_SEED) -> int:
    """Spark XXH64.hashUnsafeBytes: the string/binary path (UTF-8 bytes for
    StringType).  Standard XXH64: 32-byte stripes with 4 accumulators, then
    8-byte words, one optional 4-byte word, then byte tail."""
    length = len(data)
    seed = _to_unsigned(seed)
    offset = 0

    # --- hashBytesByWords: 32-byte stripes, then whole 8-byte words -------
    if length >= 32:
        v1 = (seed + PRIME64_1 + PRIME64_2) & _MASK64
        v2 = (seed + PRIME64_2) & _MASK64
        v3 = seed
        v4 = (seed - PRIME64_1) & _MASK64
        limit = length - 32
        while offset <= limit:
            v1 = (_rotl((v1 + int.from_bytes(data[offset : offset + 8], "little") * PRIME64_2) & _MASK64, 31) * PRIME64_1) & _MASK64
            v2 = (_rotl((v2 + int.from_bytes(data[offset + 8 : offset + 16], "little") * PRIME64_2) & _MASK64, 31) * PRIME64_1) & _MASK64
            v3 = (_rotl((v3 + int.from_bytes(data[offset + 16 : offset + 24], "little") * PRIME64_2) & _MASK64, 31) * PRIME64_1) & _MASK64
            v4 = (_rotl((v4 + int.from_bytes(data[offset + 24 : offset + 32], "little") * PRIME64_2) & _MASK64, 31) * PRIME64_1) & _MASK64
            offset += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * PRIME64_2) & _MASK64, 31) * PRIME64_1) & _MASK64
            h = (h * PRIME64_1 + PRIME64_4) & _MASK64
    else:
        h = (seed + PRIME64_5) & _MASK64

    h = (h + length) & _MASK64

    word_end = length & ~7  # whole 8-byte words processed by the words pass
    while offset < word_end:
        k = int.from_bytes(data[offset : offset + 8], "little")
        h ^= (_rotl((k * PRIME64_2) & _MASK64, 31) * PRIME64_1) & _MASK64
        h = (_rotl(h, 27) * PRIME64_1 + PRIME64_4) & _MASK64
        offset += 8

    # --- tail: one 4-byte word, then bytes --------------------------------
    if offset + 4 <= length:
        h ^= (int.from_bytes(data[offset : offset + 4], "little") * PRIME64_1) & _MASK64
        h = (_rotl(h, 23) * PRIME64_2 + PRIME64_3) & _MASK64
        offset += 4
    while offset < length:
        h ^= (data[offset] * PRIME64_5) & _MASK64
        h = (_rotl(h, 11) * PRIME64_1) & _MASK64
        offset += 1
    return _to_signed(_fmix(h))


def xxh64_str(s: str, seed: int = SPARK_SEED) -> int:
    """``F.xxhash64(string_col)`` equivalent: XXH64 over the UTF-8 bytes."""
    return xxh64_bytes(s.encode("utf-8"), seed)
