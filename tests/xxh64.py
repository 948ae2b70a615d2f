"""Pure-Python XXH64 and Spark's ``xxhash64`` on top of it (standard
library only) — the reference the value-level tests of the xxhash64 LSH
family (minhash_neardup, simhash_neardup) check against.

Spark's ``xxhash64(a, b, ...)`` starts from seed 42 and hashes each
argument with the previous result as its seed: strings as their UTF-8
bytes, IntegerType as 4 little-endian bytes. The result is a signed
64-bit long.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _lane(data: bytes, i: int, width: int) -> int:
    return int.from_bytes(data[i:i + width], "little")


def xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` (unsigned 64-bit result)."""
    seed &= _M
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i + 32 <= n:
            v = [_round(v[j], _lane(data, i + 8 * j, 8)) for j in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = (((h ^ _round(0, x)) * _P1) + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, _lane(data, i, 8)), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ ((_lane(data, i, 4) * _P1) & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h = ((h ^ (h >> 33)) * _P2) & _M
    h = ((h ^ (h >> 29)) * _P3) & _M
    return h ^ (h >> 32)


def signed64(x: int) -> int:
    return x - (1 << 64) if x >> 63 else x


def spark_xxhash64(*args: str | int, seed: int = 42) -> int:
    """Spark's ``xxhash64(args...)``: str arguments as UTF-8, int
    arguments as IntegerType (4 bytes)."""
    h = seed
    for a in args:
        data = a.encode("utf-8") if isinstance(a, str) else a.to_bytes(4, "little", signed=True)
        h = signed64(xxh64(data, h))
    return h
