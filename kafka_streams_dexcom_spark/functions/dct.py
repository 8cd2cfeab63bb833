"""Integer 2-D DCT basis + D4 orientation algebra for the rotation-
invariant perceptual image hash (queries/multimodal.py:
multimodal_phash_dct).

The classic DCT pHash (8x8 low-frequency block of the type-II DCT,
bits = coefficient > median) has one robustness the difference hash
ALGEBRAICALLY cannot offer: the DCT of a rotated/flipped image is an
index/sign remap of the original coefficient matrix —

    transpose (image):            coeff[a][b] -> coeff[b][a]
    horizontal flip (x -> N-1-x): coeff[a][b] -> (-1)^b * coeff[a][b]
    vertical flip   (y -> N-1-y): coeff[a][b] -> (-1)^a * coeff[a][b]

(the cosine-basis identity cos(pi*(2(N-1-x)+1)*u / 2N) =
(-1)^u * cos(pi*(2x+1)*u / 2N)), so the EIGHT dihedral re-posts of an
image share one coefficient-matrix orbit — computed from ONE decode,
no pixel re-processing. dHash is signs of the horizontal pixel
gradient: a 90-degree rotation swaps that for the vertical gradient
and lands ~32/64 bits away (pinned in tests/test_multimodal_dct.py).
Rotated/mirrored re-posts are a standard crawl duplicate class; this
is the honest reason to carry a DCT hash beside dHash.

Everything is EXACT INTEGER arithmetic so Spark (numpy in the Arrow
decode pass) and DuckDB (the oracle's pixel-rule replay) agree
bit-for-bit: the basis is the rounded fixed-point table below (the
cosines are evaluated ONCE here in Python and embedded as integer
constants in both engines — no cross-engine libm), coefficients are
int64 sums (|coeff| <= 255*256*SCALE^2 < 2^53 headroom under int64),
and the per-orientation threshold is the lower median (32nd smallest)
of the 63 AC values.

Known limitation, measured: at PHASH_MAX_HAMMING=4 of 64 median-bits
NO hash here survives content crops — a 2-border-pixel crop +
rescale moved the hash 14-26 bits in the design study (and dHash
9-32). Crop robustness at tight thresholds needs overlapping tiles or
learned embeddings, not a different 64-bit global hash; recorded so
the DCT family's claim stays exactly as big as the geometry it
plants: dihedral re-posts exact, dither/brightness re-encodes within
threshold.
"""

from __future__ import annotations

import math
from functools import lru_cache

from kafka_streams_dexcom_spark.functions.hashing import pack_bands

DCTP_N = 16  # image side (square: the dihedral group must act on it)
DCTP_BLOCK = 8  # low-frequency block side -> 64 bits
DCT_SCALE = 1024  # fixed-point scale of the cosine table


@lru_cache(maxsize=1)
def dct_table() -> tuple[tuple[int, ...], ...]:
    """C[u][x] = round(SCALE * cos(pi * (2x+1) * u / (2N))) for
    u < BLOCK, x < N — the one shared basis (Python evaluates the
    cosine; both engines consume the integers)."""
    return tuple(
        tuple(
            int(
                round(
                    DCT_SCALE
                    * math.cos(math.pi * (2 * x + 1) * u / (2 * DCTP_N))
                )
            )
            for x in range(DCTP_N)
        )
        for u in range(DCTP_BLOCK)
    )


# The 8 orientations as (transpose, row_parity, col_parity) flags; the
# orbit of coeff under D4 acting on the image. Order is the public
# orient id 0..7 (0 = identity).
ORIENTS: tuple[tuple[bool, bool, bool], ...] = tuple(
    (bool(t), bool(rp), bool(cp))
    for t in (0, 1)
    for rp in (0, 1)
    for cp in (0, 1)
)


def dct_coeff_matrix(img):
    """8x8 low-frequency block of the integer type-II DCT of a 16x16
    int raster: coeff[a][b] = sum_y sum_x img[y][x]*C[a][y]*C[b][x]."""
    import numpy as np

    c = np.asarray(dct_table(), dtype=np.int64)
    return c @ np.asarray(img, dtype=np.int64) @ c.T


def orient_matrix(coeff, orient: int):
    """Orientation ``orient``'s coefficient matrix (index/sign remap)."""
    import numpy as np

    t, rp, cp = ORIENTS[orient]
    m = coeff.T if t else coeff
    par = np.array([(-1) ** k for k in range(DCTP_BLOCK)], dtype=np.int64)
    if rp:
        m = m * par[:, None]
    if cp:
        m = m * par[None, :]
    return m


def median_bits(m):
    """The 64 bits of one oriented coefficient matrix: T = 32nd smallest
    of the 63 AC values (lower median), bit k (row-major a*8+b) set iff
    flat[k] > T."""
    import numpy as np

    flat = np.asarray(m, dtype=np.int64).reshape(-1)
    return flat > np.sort(flat[1:])[31]


def dct_fingerprints(img) -> list[tuple[int, int, int, int, int]]:
    """All 8 orientation fingerprints of a 16x16 int raster:
    [(orient, b0, b1, b2, b3)] — the doc's fingerprint SET. Any
    dihedral re-post of the image produces the IDENTICAL set (the
    orbit is closed), so set-vs-set min-Hamming pairing is exact on
    rotations with no canonicalization decision boundary (an argmin
    canonical form flipped orientation under dither in the design
    study — p99 hamming 36; the set form is boundary-free)."""
    coeff = dct_coeff_matrix(img)
    return [
        (o, *pack_bands(median_bits(orient_matrix(coeff, o))))
        for o in range(len(ORIENTS))
    ]


# ------------------------------------------------------------ SQL twins
# Builders take COLUMN NAMES and compose as CTE stages (pixels -> row
# pass -> coefficients -> per-orientation flats -> thresholds; the
# oracle's one band packer makes the bands): a nested inline form would
# re-evaluate the 2k-mult row pass once per lambda element. The basis
# rides along as a one-row CROSS JOINed CTE.


def dct_table_cte() -> str:
    """``dct_ct(ct)``: the flat 128-int basis as a one-row CTE
    (ct[u*16 + x + 1])."""
    flat = [v for row in dct_table() for v in row]
    lit = "[" + ", ".join(str(v) for v in flat) + "]"
    return f"dct_ct AS (SELECT {lit} AS ct)"


def row_pass_sql(p: str = "p") -> str:
    """Flat 128-list R[a*16+x+1] = sum_y p[y][x]*C[a][y] from a 256-int
    1-based pixel-list column ``p`` (requires dct_ct cross-joined)."""
    return (
        f"list_transform(range(0, 128), i -> "
        f"list_sum(list_transform(range(0, 16), y -> "
        f"{p}[y * 16 + (i % 16) + 1] * ct[(i // 16) * 16 + y + 1])))"
    )


def col_pass_sql(r: str = "r") -> str:
    """Flat 64-list coeff[a*8+b+1] from the row-pass column ``r``."""
    return (
        f"list_transform(range(0, 64), k -> "
        f"list_sum(list_transform(range(0, 16), x -> "
        f"{r}[(k // 8) * 16 + x + 1] * ct[(k % 8) * 16 + x + 1])))"
    )


def orient_flat_sql(coeff: str, orient: int) -> str:
    """Orientation ``orient``\'s flat 64-list from the coefficient-list
    column ``coeff`` (same remap as orient_matrix)."""
    t, rp, cp = ORIENTS[orient]
    idx = "(k % 8) * 8 + k // 8" if t else "k"
    sign_terms = []
    if rp:
        sign_terms.append("CASE WHEN (k // 8) % 2 = 1 THEN -1 ELSE 1 END")
    if cp:
        sign_terms.append("CASE WHEN (k % 8) % 2 = 1 THEN -1 ELSE 1 END")
    sign = " * ".join(sign_terms) if sign_terms else "1"
    return (
        f"list_transform(range(0, 64), k -> "
        f"{coeff}[{idx} + 1] * ({sign}))"
    )


def threshold_sql(flat: str = "fl") -> str:
    """Lower-median threshold (32nd smallest of the 63 AC values) of an
    oriented flat-list column."""
    return f"list_sort(list_slice({flat}, 2, 64))[32]"
