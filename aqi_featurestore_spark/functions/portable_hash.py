"""Cross-engine-portable hashing for the approximate operators.

The approximate dedup/ANN family (MinHash-LSH, SimHash, hyperplane
sketches, IVF) is hash-driven, and `xxhash64` — Spark's fast native
hash — exists in no other engine, which left those queries with only a
weak rows-only correctness check. This module provides drop-in hash
primitives that BOTH Spark and the DuckDB oracle can compute
bit-for-bit, so the whole approximate family graduates to the hard
rows+schema+hash gate:

- **md5-derived integers**: md5 is md5 everywhere; parsing the first
  8/16 hex chars yields a 32/63-bit integer. Spark parses with
  ``conv(substring(md5(x), ...), 16, 10)``; the SQL generators below
  emit the equivalent strpos-arithmetic for DuckDB.
- **Affine universal hash family** ``h_i(x) = (a_i*x + b_i) mod P``
  with ``P = 2^31 - 1``: the classic MinHash permutation
  approximation. All arithmetic stays below 2^62, so 64-bit integer
  math is exact in any engine and any evaluation order.
- **Integer hyperplanes + integer quantization**: random-hyperplane
  sketches and IVF distances use ``floor(v*10^6)`` int64 vectors
  against small-integer planes/centroids — integer dot products and
  distances are order-independent and exact, unlike float sums, so
  numpy matmuls on the Spark side and ``list_reduce`` folds on the
  DuckDB side agree on every sign and every argmin.

The (a_i, b_i) constants and plane matrices come from a seeded
``random.Random`` at plan-build time and are embedded as literals in
both the Spark plan and the oracle SQL — no RNG needs to be
reproduced inside either engine.

At 100 TB the md5 path costs ONE md5 per shingle/token plus cheap
integer ops — comparable to (for MinHash, cheaper than) 64 xxhash64
calls per shingle.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Mersenne prime 2^31 - 1 — modulus of the affine family. Keeps every
#: intermediate product below 2^62 (exact in int64).
MERSENNE31 = 2_147_483_647

_HEX = "0123456789abcdef"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# -- Spark side -------------------------------------------------------------


def md5_int32(col: Column | str) -> Column:
    """First 8 hex chars of md5 as a bigint in [0, 2^32)."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 8), 16, 10).cast("long")


def md5_int63(col: Column | str) -> Column:
    """63-bit integer from the first 16 hex chars of md5 (top bit of the
    first chunk dropped so the value fits a signed 64-bit int):
    ``(hi32 mod 2^31) * 2^32 + lo32``."""
    h = F.md5(_c(col))
    hi = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return (hi % F.lit(1 << 31)) * F.lit(1 << 32) + lo


def affine(col: Column, a: int, b: int) -> Column:
    """One member of the universal family over a base value already
    reduced mod MERSENNE31."""
    return (F.lit(a) * col + F.lit(b)) % F.lit(MERSENNE31)


# -- shared constants (embedded in both plans) ------------------------------


def hash_family(n: int, *, seed: int = 0x5EED) -> list[tuple[int, int]]:
    """n (a, b) pairs with a in [1, P), b in [0, P)."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31))
        for _ in range(n)
    ]


def int_planes(n_planes: int, dim: int, *, seed: int = 0x9A9E) -> list[list[int]]:
    """Hyperplane matrix with small odd-ish integer coordinates in
    [-9, 9]. For sign-sketch purposes an integer direction is as random
    as a Gaussian one; what it buys is an exactly-reproducible dot."""
    rng = random.Random(seed)
    return [
        [rng.randrange(-9, 10) for _ in range(dim)] for _ in range(n_planes)
    ]


# -- DuckDB SQL generators --------------------------------------------------


def duck_hex_int(col: str, start: int, n: int) -> str:
    """SQL parsing ``n`` hex chars of VARCHAR expr ``col`` starting at
    1-based ``start`` into a BIGINT (exact integer accumulation — no
    doubles). n <= 8 keeps every term below 2^32."""
    terms = " + ".join(
        f"(strpos('{_HEX}', substr({col}, {start + i}, 1)) - 1) * {16 ** (n - 1 - i)}"
        for i in range(n)
    )
    return f"({terms})"


def duck_md5_int63(h_col: str) -> str:
    """SQL equivalent of md5_int63 over a column already holding the md5
    hex string."""
    hi = duck_hex_int(h_col, 1, 8)
    lo = duck_hex_int(h_col, 9, 8)
    return f"(({hi} % {1 << 31}) * {1 << 32} + {lo})"


def duck_quantized_vec(vec_expr: str) -> str:
    """SQL turning a FLOAT[] column into the exact int64 quantization
    used by the integer sketches: ``floor(CAST(x AS DOUBLE) * 1e6)``.
    The float->double cast and the single multiply are IEEE-exact and
    identical to the numpy path (np.floor(v.astype(f64) * 1e6))."""
    return (
        f"list_transform({vec_expr}, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
    )


def duck_nonzero_norm(vec_expr: str) -> str:
    """SQL predicate ``norm > 0`` over a FLOAT[] column: the oracle twin
    of the Spark scans' zero-norm filter (operators/clustering.py
    ``nonzero_norm``). A zero-norm vector is never a neighbour, never a
    duplicate and never in an index."""
    return (
        f"list_reduce(list_transform({vec_expr}, "
        "y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), (a, b) -> a + b) > 0"
    )


def duck_int_dot(a: str, b_literal: list[int]) -> str:
    """SQL integer dot of a BIGINT[] column against a literal plane."""
    lit = "[" + ", ".join(str(v) for v in b_literal) + "]"
    n = len(b_literal)
    return (
        f"list_reduce(list_transform(range(1, {n + 1}), "
        f"i -> {a}[i] * ({lit})[i]), (x, y) -> x + y)"
    )
