"""Driver-side band-key computation for the serving tier.

Reproduces the engine's band-key scheme (functions/hashing.py) without
a Spark job, for both families:

- ``portable``: first 15 hex chars of md5 of the comma-joined slice.
- ``xxhash64``: XXH64 (seed 42 — Spark's seed for ``F.xxhash64``) of
  the UTF-8 bytes, as a SIGNED int64 like Spark returns. XXH64 is
  implemented below from the public algorithm spec (Yann Collet's
  xxHash, BSD); validated bit-for-bit against Spark's ``xxhash64`` in
  ``tests/test_serving.py``.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

from finding_similar_high_dimensional_items_for_big_data_sets_spark.config import (
    HASH_FAMILY_PORTABLE,
    HASH_FAMILY_XXHASH,
    MinHashParams,
)

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, chunk: int) -> int:
    acc = (acc + chunk * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` — unsigned 64-bit result."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            chunk = struct.unpack_from("<4Q", data, i)
            v1 = _round(v1, chunk[0])
            v2 = _round(v2, chunk[1])
            v3 = _round(v3, chunk[2])
            v4 = _round(v4, chunk[3])
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        (k1,) = struct.unpack_from("<Q", data, i)
        h = ((_rotl(h ^ _round(0, k1), 27) * _P1) + _P4) & _M
        i += 8
    if i + 4 <= n:
        (k1,) = struct.unpack_from("<I", data, i)
        h = ((_rotl(h ^ ((k1 * _P1) & _M), 23) * _P2) + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _to_signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def band_key_local(slice_values, family: str) -> int:
    """Band key for one signature slice — identical to the Spark-side
    ``hashing.band_hash(concat_ws(',', slice), family)``."""
    s = ",".join(map(str, map(int, slice_values))).encode("utf-8")
    if family == HASH_FAMILY_PORTABLE:
        return int(hashlib.md5(s).hexdigest()[:15], 16)
    if family == HASH_FAMILY_XXHASH:
        return _to_signed64(xxh64(s, seed=42))
    raise ValueError(f"unknown hash family: {family}")


def band_hashes_local(sig: np.ndarray, params: MinHashParams) -> list[int]:
    """All band keys of one signature, band order 0..bands-1."""
    r = params.rows_per_band
    vals = np.asarray(sig).tolist()  # Python ints once, not per band value
    return [
        band_key_local(vals[b * r : (b + 1) * r], params.hash_family)
        for b in range(params.bands)
    ]
