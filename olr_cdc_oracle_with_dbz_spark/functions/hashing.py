"""XXH64 twins of Spark's ``xxhash64`` in numpy and pure Python.

One home for the hash arithmetic two layers reproduce outside the JVM:

* the MinHash / trigram kernels of ``llmops.dedup`` hash inside Python
  workers, so the vectorized twins are built by factories and pickle BY
  VALUE (see :func:`_make_xxh64_long_vec`);
* ``streaming.materialize.ParquetUpsertTable.read_keys`` computes a
  bigint point lookup's bucket id, ``pmod(xxhash64(key), n_buckets)``, on
  the driver instead of in a Spark job (:func:`xxhash64_longs`).

Every twin is pinned BIT-IDENTICAL to ``F.xxhash64`` in tests/test_llmops.py
and tests/test_hashing.py.
"""

from __future__ import annotations

import numpy as np

#: Spark's ``xxhash64`` seed (``XxHash64(children, seed = 42L)``)
SPARK_SEED = 42

# XXH64 primes (public algorithm, Yann Collet; the constants Spark's
# catalyst XXH64 uses).
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _xxh64_int_seed(i: int, seed: int = SPARK_SEED) -> int:
    """Spark XXH64.hashInt(i, seed) in pure Python ints — the per-
    permutation seed ``xxhash64(lit(p), …)`` folds into hashLong."""

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & _M64

    h = (seed + _XXH_P5 + 4) & _M64
    h ^= ((i & 0xFFFFFFFF) * _XXH_P1) & _M64
    h = (rotl(h, 23) * _XXH_P2 + _XXH_P3) & _M64
    h ^= h >> 33
    h = (h * _XXH_P2) & _M64
    h ^= h >> 29
    h = (h * _XXH_P3) & _M64
    h ^= h >> 32
    return h


def _make_xxh64_long_vec():
    """Factory so the kernel function pickles BY VALUE: a module-level
    function referenced from a pandas UDF is cloudpickled by import path,
    which makes the Python workers depend on this package being importable
    (breaks any driver not launched from the repo root). The factory-local
    qualname forces cloudpickle's by-value fallback — the UDF ships its
    own copy, like every other worker-side kernel in this repo."""

    def xxh64_long_vec(vals_u64, seed: int):
        """Spark XXH64.hashLong over a numpy uint64 array (mod 2⁶⁴)."""
        import numpy as np

        u = np.uint64
        h = vals_u64 * u(0xC2B2AE3D27D4EB4F)  # PRIME64_2
        h = ((h << u(31)) | (h >> u(33))) * u(0x9E3779B185EBCA87)  # PRIME64_1
        h ^= u((seed + 0x27D4EB2F165667C5 + 8) & ((1 << 64) - 1))  # seed+P5+len
        h = ((h << u(27)) | (h >> u(37))) * u(0x9E3779B185EBCA87) + u(
            0x85EBCA77C2B2AE63
        )  # PRIME64_4
        h ^= h >> u(33)
        h *= u(0xC2B2AE3D27D4EB4F)
        h ^= h >> u(29)
        h *= u(0x165667B19E3779F9)  # PRIME64_3
        h ^= h >> u(32)
        return h

    return xxh64_long_vec


_xxh64_long_vec = _make_xxh64_long_vec()


def _make_xxh64_bytes_vec():
    """Factory (pickle BY VALUE — see :func:`_make_xxh64_long_vec`) for
    vectorized XXH64 over variable-length byte slices: Spark's
    ``xxhash64(string)`` (seed 42) reimplemented in numpy uint64, pinned
    bit-identical to the JVM in tests/test_llmops.py. Slices are grouped
    by byte length and each length group is hashed as an (n, L) uint8
    matrix — vectorized across rows, sequential only over L's fixed
    8/4/1-byte chunk structure (and 32-byte stripes for L ≥ 32)."""

    def xxh64_bytes_slices(data, starts, lens, seed=42):
        """XXH64 of ``data[starts[i] : starts[i]+lens[i]]`` per row
        (uint64 out). ``data`` is a flat uint8 buffer."""
        import numpy as np

        U = np.uint64
        P1, P2 = U(0x9E3779B185EBCA87), U(0xC2B2AE3D27D4EB4F)
        P3, P4 = U(0x165667B19E3779F9), U(0x85EBCA77C2B2AE63)
        P5 = U(0x27D4EB2F165667C5)

        def rotl(x, r):
            r = U(r)
            return (x << r) | (x >> (U(64) - r))

        def fixed(mat, sd):
            n, L = mat.shape

            def read64(o):
                return np.ascontiguousarray(mat[:, o : o + 8]).view("<u8").ravel()

            def read32(o):
                return (
                    np.ascontiguousarray(mat[:, o : o + 4])
                    .view("<u4")
                    .ravel()
                    .astype(U)
                )

            if L >= 32:
                v1 = np.full(n, sd + P1 + P2, U)
                v2 = np.full(n, sd + P2, U)
                v3 = np.full(n, sd, U)
                v4 = np.full(n, sd - P1, U)
                o = 0
                while o + 32 <= L:
                    v1 = rotl(v1 + read64(o) * P2, 31) * P1
                    v2 = rotl(v2 + read64(o + 8) * P2, 31) * P1
                    v3 = rotl(v3 + read64(o + 16) * P2, 31) * P1
                    v4 = rotl(v4 + read64(o + 24) * P2, 31) * P1
                    o += 32
                h = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
                for v in (v1, v2, v3, v4):
                    h = (h ^ (rotl(v * P2, 31) * P1)) * P1 + P4
            else:
                h = np.full(n, sd + P5, U)
                o = 0
            h = h + U(L)
            while o + 8 <= L:
                h = rotl(h ^ (rotl(read64(o) * P2, 31) * P1), 27) * P1 + P4
                o += 8
            if o + 4 <= L:
                h = rotl(h ^ (read32(o) * P1), 23) * P2 + P3
                o += 4
            while o < L:
                h = rotl(h ^ (mat[:, o].astype(U) * P5), 11) * P1
                o += 1
            h ^= h >> U(33)
            h *= P2
            h ^= h >> U(29)
            h *= P3
            h ^= h >> U(32)
            return h

        out = np.empty(len(starts), dtype=U)
        with np.errstate(over="ignore"):
            sd = U(seed & ((1 << 64) - 1))
            for L in np.unique(lens):
                sel = np.nonzero(lens == L)[0]
                if L == 0:
                    out[sel] = fixed(np.empty((len(sel), 0), np.uint8), sd)
                    continue
                mat = data[starts[sel][:, None] + np.arange(int(L))[None, :]]
                out[sel] = fixed(mat, sd)
        return out

    return xxh64_bytes_slices


_xxh64_bytes_slices = _make_xxh64_bytes_vec()


def xxhash64_longs(values: list[int]) -> list[int]:
    """Spark ``xxhash64(CAST(v AS BIGINT))`` of each int64 value, as
    signed ints. Values must already lie in the int64 range."""
    u = np.array(values, dtype=np.int64).view(np.uint64)
    return [int(h) for h in _xxh64_long_vec(u, SPARK_SEED).view(np.int64)]

