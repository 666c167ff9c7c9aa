"""Cross-engine deterministic hash family shared by HLL / count-min / Bloom /
MinHash / SimHash.

The extension sketches (SURVEY.md §2.3) need a hash that is (a) vectorizable
JVM-side so sketch builds stay inside whole-stage codegen, (b) reproducible
bit-for-bit in numpy, and (c) expressible in ANSI SQL so DuckDB oracles can
re-derive every register/counter/bit exactly.  We use a multilinear
universal family over the Mersenne prime P = 2^61 - 1, applied to the
three 31/31/2-bit limbs of the key's 64-bit two's-complement pattern:

    lo(x)  = x         & (2^31 - 1)        # nonnegative limbs; arithmetic
    mid(x) = (x >> 31) & (2^31 - 1)        # shift + mask semantics agree
    hi(x)  = (x >> 62) & 3                 # in Spark (Java), numpy, DuckDB
    h_i(x) = (a_i*lo + a'_i*mid + a''_i*hi + b_i) mod P

with a_i, a'_i, a''_i < 2^30 so each product is < 2^61 and each running
sum (reduced mod P between terms) stays < 2^62: all intermediates fit in a
signed int64, so the same expression evaluates identically as Spark SQL
(codegen'd long arithmetic), a numpy int64 ufunc chain, and a DuckDB
BIGINT expression -- no wraparound semantics or HUGEINT needed.  One text
emitter serves both SQL engines; they differ only in how shifts and the
modulo are spelled (see ``Dialect``).
The (a_i, b_i) constants come from a fixed-seed splitmix64 and
(a'_i, a''_i) are derived deterministically from (a_i, b_i), so every
engine sees the same family.

The limb decomposition is injective on the FULL int64 domain, and a
multilinear hash sum(a_j*x_j) + b mod P over limbs x_j < P is pairwise
independent (Carter-Wegman): two distinct keys differ in some limb and
collide with probability 1/P.  That restores the count-min / Bloom / HLL /
MinHash guarantees for 64-bit ids -- the previous x mod (2^31-1) pre-fold
made every x === x' (mod 2^31-1) pair collide under the ENTIRE family.
For HLL the high bits of h are the register index and the low bits the
rank (rho), standard practice for 61-bit universal hashes.
"""

from __future__ import annotations

from typing import Callable, NamedTuple, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MERSENNE61 = (1 << 61) - 1
FOLD31 = (1 << 31) - 1
HASH_BITS = 61  # h in [0, 2^61 - 1)


def _splitmix64(seed: int):
    state = seed & 0xFFFFFFFFFFFFFFFF

    def nxt() -> int:
        nonlocal state
        state = (state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return z ^ (z >> 31)

    return nxt


def hash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """k deterministic (a, b) pairs: 1 <= a < 2^30 (odd), 0 <= b < P."""
    nxt = _splitmix64(seed)
    out = []
    for _ in range(k):
        a = (nxt() % ((1 << 30) - 2)) | 1  # odd, < 2^30
        b = nxt() % MERSENNE61
        out.append((a, b))
    return out


# ---------------------------------------------------------------------------
# the three engines: numpy, and SQL text for Spark and DuckDB
# ---------------------------------------------------------------------------

class Dialect(NamedTuple):
    """How one SQL engine spells the operations the hash needs besides
    + * & and CAST.  Spark 4.1 fails to parse ``>>`` inside ``array(...)``
    and DuckDB has no shiftright/shiftleft/pmod; every operand here is
    non-negative, so ``%`` and ``pmod`` agree."""

    shr: Callable[[str, int], str]
    shl: Callable[[str, int], str]
    mod: Callable[[str, int], str]


DUCKDB = Dialect(
    shr=lambda x, n: f"({x} >> {n})",
    shl=lambda x, n: f"({x} << {n})",
    mod=lambda x, n: f"({x} % {n})",
)
SPARK = Dialect(
    shr=lambda x, n: f"shiftright({x}, {n})",
    shl=lambda x, n: f"shiftleft({x}, {n})",
    mod=lambda x, n: f"pmod({x}, {n})",
)


def _limb_params(a: int, b: int) -> tuple[int, int]:
    """Deterministic (a', a'') multipliers for the mid/hi limbs, derived
    from (a, b) so the public hash signature stays 2-parameter and every
    engine embeds the same literals."""
    nxt = _splitmix64(((a & 0xFFFFFFFF) << 32) ^ (b & 0xFFFFFFFF) ^ 0x5851F42D)
    a2 = (nxt() % ((1 << 30) - 2)) | 1
    a3 = (nxt() % ((1 << 30) - 2)) | 1
    return a2, a3


def hash_np(x: np.ndarray, a: int, b: int) -> np.ndarray:
    """numpy int64: identical to hash_sql in either dialect."""
    a2, a3 = _limb_params(a, b)
    xl = np.asarray(x).astype(np.int64)
    lo = xl & np.int64(FOLD31)
    mid = (xl >> np.int64(31)) & np.int64(FOLD31)
    hi = (xl >> np.int64(62)) & np.int64(3)
    t = np.mod(a * lo + b, MERSENNE61)
    t = np.mod(t + a2 * mid, MERSENNE61)
    return np.mod(t + a3 * hi, MERSENNE61)


def hash_sql(x: str, a: int, b: int, d: Dialect = DUCKDB) -> str:
    """BIGINT expression text for the limb hash of ``x``.  Arithmetic
    shift then & with a positive mask yields the non-negative limbs on any
    int64, identically in Java, numpy and DuckDB."""
    a2, a3 = _limb_params(a, b)
    xe = f"CAST(({x}) AS BIGINT)"
    lo = f"({xe} & {FOLD31})"
    mid = f"({d.shr(xe, 31)} & {FOLD31})"
    hi = f"({d.shr(xe, 62)} & 3)"
    t = d.mod(f"(({a} * {lo}) + {b})", MERSENNE61)
    t = d.mod(f"({t} + ({a2} * {mid}))", MERSENNE61)
    return d.mod(f"({t} + ({a3} * {hi}))", MERSENNE61)


# ---------------------------------------------------------------------------
# nonlinear mix: h -> h^2 mod P
#
# The linear family alone is pairwise independent (enough for count-min and
# Bloom bounds) but maps consecutive keys to an arithmetic progression whose
# HIGH bits are nearly constant -- fatal for HyperLogLog's leading-zero rank
# and biased for min-wise (MinHash) use. Squaring mod the Mersenne prime
# breaks that linear structure. All intermediates stay < 2^63 by 31-bit
# splitting and the Mersenne identity 2^61 === 1 (mod P), so the same
# expression is exact in Spark long arithmetic, numpy int64, and DuckDB
# BIGINT:
#
#   h = h1*2^31 + h0          (h1 < 2^30, h0 < 2^31)
#   h^2 mod P = ( 2*h1^2  +  rot31(2*h1*h0 mod P)  +  h0^2 mod P ) mod P
#   rot31(t) = t*2^31 mod P = (t & (2^30-1)) << 31  |  t >> 30   (< 2^61)
# ---------------------------------------------------------------------------

def mix_np(h: np.ndarray) -> np.ndarray:
    h1 = h >> 31
    h0 = h & ((1 << 31) - 1)
    t = (2 * ((h1 * h0) % MERSENNE61)) % MERSENNE61
    cross = ((t >> 30) + ((t & ((1 << 30) - 1)) << 31)) % MERSENNE61
    return (2 * h1 * h1 % MERSENNE61 + cross + h0 * h0 % MERSENNE61) % MERSENNE61


def mix_sql(h: str, d: Dialect = DUCKDB) -> str:
    """Expression text mirroring mix_np.  It reads ``h`` eight times, so
    a Spark plan passes a column name (with_hashes); inlining the limb
    hash, as mixed_hash_sql does for one-off oracle SQL, repeats it 8x."""
    P = MERSENNE61
    h1 = d.shr(f"({h})", 31)
    h0 = f"(({h}) & {FOLD31})"
    t = d.mod(f"(2 * {d.mod(f'({h1} * {h0})', P)})", P)
    cross = d.mod(f"({d.shr(t, 30)} + {d.shl(f'({t} & {(1 << 30) - 1})', 31)})", P)
    return d.mod(
        f"({d.mod(f'((2 * {h1}) * {h1})', P)} + {cross} + {d.mod(f'({h0} * {h0})', P)})", P
    )


def mixed_hash_np(x: np.ndarray, a: int, b: int) -> np.ndarray:
    return mix_np(hash_np(x, a, b))


def mixed_hash_sql(x: str, a: int, b: int, d: Dialect = DUCKDB) -> str:
    return mix_sql(hash_sql(x, a, b, d), d)


# ---------------------------------------------------------------------------
# bit-length (MSB position), for HLL rho
# ---------------------------------------------------------------------------

def bitlen_np(x: np.ndarray) -> np.ndarray:
    """Exact bit length of non-negative int64 values; bitlen(0) = 0.

    frexp on float64 can be off by one near powers of two for inputs
    >= 2^53, so the estimate is corrected with exact integer compares
    against 2^(e-1) and 2^e; the numpy core and the SQL engines then agree
    on HLL rho for every p."""
    xl = np.asarray(x).astype(np.int64)
    _, e = np.frexp(xl.astype(np.float64))
    e = np.clip(e.astype(np.int64), 1, 62)
    p_lo = np.left_shift(np.int64(1), e - 1)  # 2^(e-1)
    p_hi = np.left_shift(np.int64(2), e - 1)  # 2^e (max 2^62, no overflow)
    e_fixed = np.where(xl < p_lo, e - 1, np.where(xl >= p_hi, e + 1, e))
    return np.where(xl == 0, 0, e_fixed).astype(np.int64)


def bitlen_sql(x: str) -> str:
    """Spark and DuckDB alike: length(bin(x)) is the MSB position of an
    x > 0 (exact, no float step)."""
    return f"(CASE WHEN ({x}) = 0 THEN 0 ELSE length(bin({x})) END)"


# ---------------------------------------------------------------------------
# staged Spark projections
# ---------------------------------------------------------------------------

def sql_ident(name: str) -> str:
    """Backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def with_hashes(
    df: DataFrame,
    value: Column | str,
    params: Sequence[tuple[int, int]],
    mix: bool = True,
) -> DataFrame:
    """``df`` plus one hash of ``value`` per (a, b) in ``params``: the mixed
    hash ``__m{j}``, or only the limb hash ``__h{j}`` when ``mix`` is off.

    Staged projections, one py4j call each: value -> ``__x``, limb hashes
    -> ``__h{j}``, mixes -> ``__m{j}``.  No stage
    inlines another, and Catalyst keeps the split (CollapseProject does not
    inline a non-cheap alias its consumer reads several times; the mix reads
    ``__h{j}`` eight times), so each stage stays a small codegen'd
    expression.  Callers derive registers, bits or cells from these columns
    in one more ``selectExpr``."""
    x = df.withColumn("__x", value if isinstance(value, Column) else F.col(value))
    h = x.selectExpr(
        "*", *[f"{hash_sql('__x', a, b, SPARK)} AS __h{j}" for j, (a, b) in enumerate(params)]
    )
    if not mix:
        return h
    return h.selectExpr(
        "*", *[f"{mix_sql(f'__h{j}', SPARK)} AS __m{j}" for j in range(len(params))]
    )
