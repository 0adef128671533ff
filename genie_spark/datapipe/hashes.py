"""Cross-engine deterministic hash primitives.

The correctness gate runs every query twice — PySpark and DuckDB — and
compares value hashes, so any hash an operator materializes must be
computable identically in both engines. ``h60`` is a 60-bit integer from
the first 15 hex digits of md5 (both engines agree byte-for-byte on md5;
15 hex digits keeps the value inside a signed 64-bit int):

* Spark:  ``conv(substring(md5(x), 1, 15), 16, 10) :: bigint``
* DuckDB: ``('0x' || substr(md5(x), 1, 15)) :: UBIGINT :: BIGINT``

Hashes that no oracle ever sees (salts, chunk keys) call Spark's
``xxhash64`` directly: it is cheaper but has no DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def h60(col: Column) -> Column:
    """60-bit deterministic hash, identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def h60_salted(col: Column, salt: Column) -> Column:
    return h60(F.concat(salt.cast("string"), F.lit("\x01"), col))


def h60_sql(expr: str) -> str:
    """DuckDB twin of :func:`h60` for oracle SQL strings."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::UBIGINT::BIGINT)"


def h60_salted_sql(expr: str, salt_expr: str) -> str:
    return h60_sql(f"({salt_expr})::varchar || chr(1) || ({expr})")


# ---------------------------------------------------------------------------
# MinHash permutation family: ONE base hash per input, then num_hashes
# derived values — pure 64-bit-safe arithmetic (identical in Spark and
# DuckDB), ~16× fewer md5 evaluations than hashing per (j, input) pair.
#
# Construction: split the 60-bit base hash into 30-bit halves (hi, lo) and
# mix each through a wrapping affine map mod the Mersenne prime 2^31-1:
#     v1 = (a·hi + c) mod M31,   v2 = (b·lo + c) mod M31
#     perm = v1·2^31 + v2
# The mod MUST wrap to scramble ordering (a·hi ≈ 2^58 ≫ M31 wraps ~2^27
# times); a first attempt with modulus 2^61-1 never wrapped, leaving all
# "permutations" order-correlated with the base hash and inflating LSH
# collisions ~40×. Products stay < 2^59, sums < 2^62 — inside signed 64.
# ---------------------------------------------------------------------------

MINHASH_M31 = (1 << 31) - 1  # Mersenne prime 2^31-1
_LO_MASK = (1 << 30) - 1

# Fixed odd mixing constants (md5-derived, no RNG) for the salt-keyed
# remix below — same derivation recipe as minhash_params.
import hashlib as _hashlib

_MIX_A = int(_hashlib.md5(b"affine-mix-a").hexdigest()[:7], 16) | 1
_MIX_B = int(_hashlib.md5(b"affine-mix-b").hexdigest()[:7], 16) | 1
_MIX_C = int(_hashlib.md5(b"affine-mix-c").hexdigest()[:7], 16) | 1


def affine_mix(h: Column, salt: Column) -> Column:
    """Salt-keyed wrapped-affine remix of a 60-bit base hash → [0, 2^62).

    One md5 per INPUT (the base ``h60``), then pure 64-bit-safe arithmetic
    per (input, salt) pair — the same wrap-mod-M31 construction as the
    MinHash permutation family above (and subject to the same lesson: the
    multiplier product MUST wrap M31 to decorrelate from the base hash).
    Replaces one md5 per pair where a family of deterministic derived
    values is needed (e.g. bootstrap draw j of run r), at ~1/20 the cost.
    Bounds: a,b ≤ M31 < 2^31, hi/lo < 2^30 ⇒ products < 2^61 + c < 2^62,
    inside signed 64 under ANSI mode."""
    h = h.cast("long")
    s = salt.cast("long")  # int×int would overflow 32-bit under ANSI mode
    hi = F.shiftright(h, 30)
    lo = h.bitwiseAND(F.lit(_LO_MASK).cast("long"))
    a = F.pmod(F.lit(_MIX_A).cast("long") * (s * 2 + 1), F.lit(MINHASH_M31)) + 1
    b = F.pmod(F.lit(_MIX_B).cast("long") * (s * 2 + 1), F.lit(MINHASH_M31)) + 1
    v1 = F.pmod(a * hi + F.lit(_MIX_C), F.lit(MINHASH_M31))
    v2 = F.pmod(b * lo + F.lit(_MIX_C), F.lit(MINHASH_M31))
    return v1 * F.lit(1 << 31) + v2


def affine_mix_sql(h_expr: str, salt_expr: str) -> str:
    """DuckDB twin of :func:`affine_mix` (all operands non-negative, so
    DuckDB's % matches Spark's pmod)."""
    a = f"(({_MIX_A} * (2 * ({salt_expr}) + 1)) % {MINHASH_M31} + 1)"
    b = f"(({_MIX_B} * (2 * ({salt_expr}) + 1)) % {MINHASH_M31} + 1)"
    return (
        f"((({a} * (({h_expr}) >> 30) + {_MIX_C}) % {MINHASH_M31}) * {1 << 31}"
        f" + (({b} * (({h_expr}) & {_LO_MASK}) + {_MIX_C}) % {MINHASH_M31}))"
    )


def minhash_params(num_hashes: int):
    """Deterministic (a, b, c) per hash function, derived from md5 so both
    engines (and any rebuild) agree without an RNG."""
    import hashlib

    out = []
    for j in range(num_hashes):
        def d(tag):
            return int(hashlib.md5(f"mh-{tag}-{j}".encode()).hexdigest()[:7], 16) | 1
        out.append((d("a"), d("b"), d("c")))
    return out


def minhash_perm(h: Column, a: int, b: int, c: int) -> Column:
    """One wrapped-affine permutation of a 60-bit base hash (Column form)."""
    hi = F.shiftright(h, 30)
    lo = h.bitwiseAND(F.lit(_LO_MASK))
    v1 = F.pmod(F.lit(a) * hi + F.lit(c), F.lit(MINHASH_M31))
    v2 = F.pmod(F.lit(b) * lo + F.lit(c), F.lit(MINHASH_M31))
    return v1 * F.lit(1 << 31) + v2
