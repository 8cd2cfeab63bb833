"""Rotation-invariant DCT perceptual hash (functions/dct.py +
queries/multimodal.py multimodal_phash_dct*): the dihedral-re-post
duplicate class, which the dHash family PROVABLY misses (a 90-degree
rotation swaps the horizontal gradient for the vertical one) and the
D4-orbit DCT fingerprint SET catches at EXACT Hamming 0."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.functions import dct as dx
from kafka_streams_dexcom_spark.operators import multimodal as mm

N_GROUPS = 60  # deterministic md5 corpus; enough to pin distributions


def _square_dhash_bits(img: np.ndarray) -> np.ndarray:
    """dhash_bits' square-raster form (same 2x2 integer box + strict
    > discipline; the production 8x9 grid needs a 16x18 raster, which
    a rotation would turn 18x16 and crash on — itself a statement
    about orientation-bound hashes): 8x8 downsample, horizontal
    diffs with wrap = 64 bits."""
    d = (
        img[0::2, 0::2].astype(np.int64)
        + img[0::2, 1::2]
        + img[1::2, 0::2]
        + img[1::2, 1::2]
    ) // 4
    return (d > np.roll(d, -1, axis=1)).reshape(-1)


def _ham(a, b) -> int:
    return int(np.sum(np.asarray(a) != np.asarray(b)))


def _set_minham(fps_a, fps_b) -> int:
    a0 = [f for f in fps_a if f[0] == 0][0][1:5]
    best = 64
    for f in fps_b:
        bb = f[1:5]
        h = sum(bin(x ^ y).count("1") for x, y in zip(a0, bb))
        best = min(best, h)
    return best


def test_rotation_exact_catch_and_dhash_miss():
    """Per planted group: the rotated re-post's fingerprint SET is
    IDENTICAL to the base's (min-Hamming 0, set equality), while the
    square dHash lands far away — the provable separation that
    justifies carrying a DCT hash beside dHash."""
    for g in range(N_GROUPS):
        base = mm.dctp_variant_pixels(g, 0)
        rot = mm.dctp_variant_pixels(g, 1)
        fps_b = dx.dct_fingerprints(base)
        fps_r = dx.dct_fingerprints(rot)
        assert sorted(f[1:5] for f in fps_b) == sorted(
            f[1:5] for f in fps_r
        ), g
        assert _set_minham(fps_b, fps_r) == 0, g
        dh = _ham(_square_dhash_bits(base), _square_dhash_bits(rot))
        assert dh > 4, (g, dh)  # dHash misses at the dedup threshold


def test_redo_within_threshold_distribution():
    """The dithered+brightened re-encode stays within the dedup
    threshold for almost every group (p99 <= 4 in the 4000-group
    design study); cross-group distance stays far above it — no
    false merges."""
    over = 0
    for g in range(N_GROUPS):
        fps_b = dx.dct_fingerprints(mm.dctp_variant_pixels(g, 0))
        fps_d = dx.dct_fingerprints(mm.dctp_variant_pixels(g, 2))
        if _set_minham(fps_b, fps_d) > 4:
            over += 1
    assert over <= max(1, N_GROUPS // 20), over
    prev = None
    for g in range(N_GROUPS):
        fps = dx.dct_fingerprints(mm.dctp_variant_pixels(g, 0))
        if prev is not None:
            assert _set_minham(prev, fps) > 4, g
        prev = fps


def test_orbit_identities_are_exact():
    """The coefficient-matrix orbit identities (transpose/flip sign
    remaps) equal brute-force DCT of the transformed IMAGE — the
    algebra the whole family rests on, checked per orientation."""
    img = mm.dctp_src_pixels(7)
    coeff = dx.dct_coeff_matrix(img)
    # transpose <-> image transpose
    assert np.array_equal(
        dx.dct_coeff_matrix(img.T), dx.orient_matrix(coeff, 4)
    )
    # vertical flip (y -> N-1-y) <-> row parity signs
    assert np.array_equal(
        dx.dct_coeff_matrix(img[::-1, :]), dx.orient_matrix(coeff, 2)
    )
    # horizontal flip <-> col parity signs
    assert np.array_equal(
        dx.dct_coeff_matrix(img[:, ::-1]), dx.orient_matrix(coeff, 1)
    )
    # rot90 = transpose then vertical flip -> its SET equals the orbit
    rot = np.rot90(img)
    got = {tuple(f[1:5]) for f in dx.dct_fingerprints(rot)}
    want = {tuple(f[1:5]) for f in dx.dct_fingerprints(img)}
    assert got == want


def test_payload_bytes_pairwise_distinct(spark):
    """The three encodings of a group share zero payload bytes as far
    as byte-exact dedup is concerned: md5(payload) has no duplicate
    groups, so every pair the DCT dedup finds is invisible to
    multimodal_dedup."""
    docs = spark.range(0, 90).select(F.col("id").alias("doc_id"))
    media = mm.media_payload(mm.IMAGE_DCT, docs)
    n_dup = (
        media.groupBy(F.md5("payload"))
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert n_dup == 0


def test_dedup_query_finds_planted_pairs(spark):
    """End-to-end through the registered plan shape: the oriented
    banded pairing over real decoded fingerprints pairs base<->rot at
    hamming 0 for every group, and base<->redo within threshold for
    nearly all."""
    from kafka_streams_dexcom_spark.queries.multimodal import (
        _banded_pairs_oriented,
    )

    docs = spark.range(0, 90).select(F.col("id").alias("doc_id"))
    fp = mm.media_fingerprints(
        mm.IMAGE_DCT, mm.media_payload(mm.IMAGE_DCT, docs)
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in _banded_pairs_oriented(fp).collect()
    }
    for g in range(30):
        assert pairs.get((3 * g, 3 * g + 1)) == 0, g  # rot re-post
    found_redo = sum(
        1 for g in range(30) if (3 * g, 3 * g + 2) in pairs
    )
    assert found_redo >= 27, found_redo
