"""Portable deterministic hashing, identical in Spark SQL and DuckDB SQL.

Why not ``F.hash``/``F.xxhash64``? Those are Spark-internal algorithms the
DuckDB oracle cannot reproduce. Instead we derive a 60-bit integer from the
first 15 hex digits of md5 — both engines ship md5 and the arithmetic is
exact:

    Spark : CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)
    DuckDB: CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)

60 bits < 63 keeps the value positive in a signed BIGINT, so modular
arithmetic matches across engines. MinHash permutations are the classic
universal-hash family h_i(x) = (a_i * x + b_i) mod p with a large prime
p < 2^31 so products stay inside 94 bits — except we keep x itself in
[0, p) first, making every intermediate < 2^62 (no overflow in either
engine's BIGINT).

These run as Catalyst expressions (whole-stage codegen) — no Python UDFs.
"""

from __future__ import annotations

# Mersenne prime 2^31 - 1: big enough for hash dispersion, small enough
# that (a*x + b) with a,b,x < p fits comfortably in a signed 64-bit int.
MERSENNE_P = 2_147_483_647

# Deterministic permutation coefficients (seeded, fixed — reproducible
# across rounds and engines). Generated once from a fixed LCG; hardcoded
# so the oracle SQL can embed the same constants.
_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 2**31


def _perm_coeffs(n: int, seed: int = 42) -> list[tuple[int, int]]:
    state = seed
    out = []
    for _ in range(n):
        state = (_LCG_A * state + _LCG_C) % _LCG_M
        a = state % (MERSENNE_P - 1) + 1  # a in [1, p-1]
        state = (_LCG_A * state + _LCG_C) % _LCG_M
        b = state % MERSENNE_P  # b in [0, p-1]
        out.append((a, b))
    return out


PERM_COEFFS = _perm_coeffs(64)


# the Spark spelling, a Spark SQL template over {x}
HASH60_TPL = "CAST(conv(substr(md5({x}), 1, 15), 16, 10) AS BIGINT)"


def hash60_sql(expr: str) -> str:
    """The DuckDB spelling of the same hash, as SQL over ``expr``."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def pack_bands(bits) -> tuple[int, int, int, int]:
    """A 64-bit fingerprint (``bits[k]`` = bit k) as four 16-bit band
    ints: band b holds bits [16b, 16b+16), bit 16b+t at position t.
    Band ints stay sign-safe in both engines' BIGINT, and each band is
    a bucket key for banded pairing."""
    v = sum(1 << k for k, bit in enumerate(bits) if bit)
    return tuple((v >> (16 * b)) & 0xFFFF for b in range(4))
