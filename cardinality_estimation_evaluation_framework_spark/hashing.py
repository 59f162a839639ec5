"""Vectorized hashing kernels (numpy, no per-row Python).

The reference hashes every id through seeded 64-bit farmhash
(ref: src/common/hash_function.py:53-56, MAX_HASH_VALUE = 2**64-1 at :19).
farmhash is not available in this environment, so the engine uses two
public, deterministic alternatives with the same statistical contract
(uniform 64-bit output, seedable):

- ``splitmix64`` (Steele et al., public domain; the JDK SplittableRandom
  finalizer) for integer ids inside numpy kernels — vectorized, branch-free.
- Spark's JVM-side ``xxhash64`` for hashing arbitrary columns before they
  enter a Python kernel (strings never cross into Python unhashed).

For DuckDB-oracle parity queries the portable kernels
(``PortableHllKernel`` and the portable count-min / vector-of-counts modes)
use ``(a*x + b) mod p`` with p = 2^31 - 1, expressible in both Spark SQL and
DuckDB SQL without 64-bit overflow (ANSI-safe), so sketch register tables
can be compared value-for-value against a pure-SQL oracle.

If the real ``farmhash`` package is importable, ``farmhash_or_none`` exposes
it so parity tests against the reference can run bit-exact; otherwise those
tests are skipped and parity is statistical (same error bounds).
"""

from __future__ import annotations

import numpy as np

try:  # optional bit-parity with the reference's farmhash
    import farmhash as _farmhash  # type: ignore
except ImportError:  # pragma: no cover
    _farmhash = None

MAX_HASH_VALUE = 2**64 - 1  # ref: hash_function.py:19

_U64 = np.uint64


def splitmix64(x: np.ndarray, seed: int = 0) -> np.ndarray:
    """Vectorized splitmix64 finalizer over a uint64 array.

    Public-domain constants (Sebastiano Vigna). Seed is mixed in additively
    with the golden-gamma increment so distinct seeds give independent hash
    functions.
    """
    z = np.asarray(x, dtype=_U64) + _U64((seed * 0x9E3779B97F4A7C15) & MAX_HASH_VALUE)
    with np.errstate(over="ignore"):
        z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
        z = z ^ (z >> _U64(31))
    return z


def hash64(values: np.ndarray, seed: int = 0) -> np.ndarray:
    """Seeded 64-bit hash of an integer array → uint64.

    Statistical stand-in for ``farmhash.hash64withseed(str(x), seed)``
    (ref: hash_function.py:53-56).
    """
    v = np.asarray(values)
    if v.dtype.kind in ("i", "u"):
        return splitmix64(v.astype(np.int64).view(_U64), seed)
    raise TypeError(f"hash64 expects integer arrays, got {v.dtype}")


def bit_length_u64(w: np.ndarray) -> np.ndarray:
    """Exact floor(log2(w))+1 per element for uint64 arrays (0 → 0).

    EXACT and fast: split into 32-bit halves (every uint32 is exactly
    representable in float64) and read the binary exponent via ``frexp`` —
    a handful of vectorized passes instead of a 6-step masked search.
    Naive float64 log2/frexp on the full 64-bit value would round above
    2^53 and mis-bin values just below a power of two.
    """
    w = np.asarray(w, dtype=_U64)
    hi = (w >> _U64(32)).astype(np.uint32)
    lo = w.astype(np.uint32)  # truncating view of the low half
    _, e_hi = np.frexp(hi.astype(np.float64))
    _, e_lo = np.frexp(lo.astype(np.float64))
    return np.where(hi != 0, e_hi + 32, e_lo).astype(np.int64)


def derive_seeds(random_seed: int, n: int) -> np.ndarray:
    """Deterministic stream of sub-seeds from a master seed.

    Mirrors the reference's convention of drawing hash seeds from a seeded
    RandomState (ref: any_sketch.py:343-348) without depending on
    ``sys.maxsize`` platform width: uses splitmix64 of the counter.
    """
    return splitmix64(np.arange(n, dtype=np.uint64), seed=random_seed)


def farmhash_or_none():
    return _farmhash


# --------------------------------------------------------------------------
# Portable 64-bit string hash + splitmix64, expressible in BOTH Spark SQL
# and DuckDB SQL — used by the oracle-gate variants of minhash/simhash so
# the full numpy signature kernels can be pinned value-exactly by a DuckDB
# twin (the production paths keep JVM-side xxhash64, which DuckDB cannot
# reproduce).
# --------------------------------------------------------------------------

GOLDEN_GAMMA = 0x9E3779B97F4A7C15
_SM_C1 = 0xBF58476D1CE4E5B9
_SM_C2 = 0x94D049BB133111EB
_M64 = 2**64


def splitmix_offset(seed: int) -> int:
    """The additive offset :func:`splitmix64` derives from ``seed``."""
    return (seed * GOLDEN_GAMMA) % _M64


def md5_u64_spark(col):
    """Spark Column: first 8 md5 bytes (big-endian) as signed-bits int64.

    Equals :func:`md5_u64_duckdb`'s UBIGINT value mod 2^64. ANSI-safe: each
    ``conv`` half is < 2^32 before the shift, and ``shiftleft`` wraps bits
    instead of overflow-checking.
    """
    from pyspark.sql import functions as F

    h = F.md5(col)
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def md5_u64_duckdb(expr: str) -> str:
    """DuckDB SQL text: same 64 bits as :func:`md5_u64_spark`, as UBIGINT."""
    return f"CAST('0x' || substr(md5({expr}), 1, 16) AS UBIGINT)"


def _mul64_duckdb(a_expr: str, const: int) -> str:
    """(a * const) mod 2^64 without overflowing HUGEINT: split the constant
    into 32-bit halves so every intermediate stays < 2^97."""
    chi, clo = const >> 32, const & 0xFFFFFFFF
    return (
        f"CAST((CAST({a_expr} AS HUGEINT)*{clo}"
        f" + ((CAST({a_expr} AS HUGEINT)*{chi}) % 4294967296) * 4294967296)"
        f" % 18446744073709551616 AS UBIGINT)"
    )


def splitmix64_duckdb_select(x_expr: str, off_expr: str,
                             out_alias: str = "h") -> str:
    """SELECT-list fragment computing splitmix64(x + off) via DuckDB lateral
    column aliases (z0..z2 intermediates). ``off_expr`` must already be the
    additive offset (:func:`splitmix_offset`), as UBIGINT. The result alias
    carries the uint64 value; append a signed conversion where needed."""
    z0 = (
        f"CAST((CAST({x_expr} AS HUGEINT) + CAST({off_expr} AS HUGEINT))"
        f" % 18446744073709551616 AS UBIGINT)"
    )
    return (
        f"{z0} AS _sm_z0, "
        f"xor(_sm_z0, _sm_z0 >> 30) AS _sm_x1, "
        f"{_mul64_duckdb('_sm_x1', _SM_C1)} AS _sm_z1, "
        f"xor(_sm_z1, _sm_z1 >> 27) AS _sm_x2, "
        f"{_mul64_duckdb('_sm_x2', _SM_C2)} AS _sm_z2, "
        f"xor(_sm_z2, _sm_z2 >> 31) AS {out_alias}"
    )


def u64_to_i64_duckdb(expr: str, out_alias: str) -> str:
    """SELECT-list fragment: reinterpret a UBIGINT as signed-bits BIGINT."""
    return (
        f"CASE WHEN {expr} >= 9223372036854775808"
        f" THEN CAST(CAST({expr} AS HUGEINT) - 18446744073709551616 AS BIGINT)"
        f" ELSE CAST({expr} AS BIGINT) END AS {out_alias}"
    )
