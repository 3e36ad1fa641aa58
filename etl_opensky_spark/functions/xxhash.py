"""Spark's ``XxHash64`` (XXH64 of fixed-width scalars), vectorized in
numpy so Arrow-path code can re-hash JVM-produced hashes bit-identically.

Spark hashes an 8-byte long via ``hashLong`` and a 4-byte int via
``hashInt``; multi-argument ``xxhash64(a, b)`` chains: seed 42 -> hash(a)
-> seed for b.  Equivalence to ``F.xxhash64`` is pinned by
``tests/test_round4_ops.py::test_numpy_xxh64_matches_spark``.
"""

from __future__ import annotations

_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _np_u64(x):
    import numpy as np

    return np.asarray(x).astype(np.int64).view(np.uint64)


def _xxh64_avalanche(h):
    import numpy as np

    u = np.uint64
    h = h ^ (h >> u(33))
    h = h * u(_XXH_P2)
    h = h ^ (h >> u(29))
    h = h * u(_XXH_P3)
    h = h ^ (h >> u(32))
    return h


def _xxh64_rotl(x, r):
    import numpy as np

    u = np.uint64
    return (x << u(r)) | (x >> u(64 - r))


def xxh64_long_np(values, seed):
    """Spark ``XxHash64.hashLong`` over a numpy int64/uint64 array."""
    import numpy as np

    u = np.uint64
    v = _np_u64(values)
    seed = np.asarray(seed).astype(np.uint64)
    with np.errstate(over="ignore"):
        h = seed + u(_XXH_P5) + u(8)
        h = h ^ (_xxh64_rotl(v * u(_XXH_P2), 31) * u(_XXH_P1))
        h = _xxh64_rotl(h, 27) * u(_XXH_P1) + u(_XXH_P4)
        return _xxh64_avalanche(h)


def xxh64_int_np(values, seed):
    """Spark ``XxHash64.hashInt`` over a numpy int32 array (4-byte path)."""
    import numpy as np

    u = np.uint64
    v = np.asarray(values).astype(np.int64).view(np.uint64) & u(0xFFFFFFFF)
    seed = np.asarray(seed).astype(np.uint64)
    with np.errstate(over="ignore"):
        h = seed + u(_XXH_P5) + u(4)
        h = h ^ (v * u(_XXH_P1))
        h = _xxh64_rotl(h, 23) * u(_XXH_P2) + u(_XXH_P3)
        return _xxh64_avalanche(h)
