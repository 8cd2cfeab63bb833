"""Perceptual near-dup media dedup (operators/multimodal.py: dHash
over the vendored PNG codec): the duplicate class byte-exact dedup
cannot see. Pins the honesty story end to end — re-encoded variants
share ZERO payload bytes yet fingerprint identically, byte-dedup finds
none of the pairs, phash finds all of them, and cross-group frames
stay far apart in Hamming space."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators import multimodal as mm
from tests.conftest import oracle_reach


def _media(spark, n_docs=12):
    docs = spark.createDataFrame(
        [(i,) for i in range(n_docs)], "doc_id long"
    )
    return mm.media_payload(mm.IMAGE, docs)


def test_payloads_are_real_distinct_pngs(spark):
    from kafka_streams_dexcom_spark.functions.png import (
        PNG_MAGIC,
        decode_png,
    )

    rows = _media(spark).collect()
    assert len(rows) == 12
    by_id = {r["doc_id"]: bytes(r["payload"]) for r in rows}
    for p in by_id.values():
        assert p[:8] == PNG_MAGIC
        w, h, ch, px = decode_png(p)
        assert (w, h) == (mm.PHASH_SRC_W, mm.PHASH_SRC_H)
    # the three encodings of one group are pairwise byte-DISTINCT
    assert len({by_id[0], by_id[1], by_id[2]}) == 3
    # and the RGB variant is a genuinely different color type
    _, _, ch0, _ = decode_png(by_id[0])
    _, _, ch1, _ = decode_png(by_id[1])
    assert (ch0, ch1) == (1, 3)


def test_reencoded_variants_fingerprint_identically(spark):
    fp = {
        r["doc_id"]: r
        for r in mm.media_fingerprints(mm.IMAGE, _media(spark)).collect()
    }
    for g in range(3):
        gray, rgb, pert = fp[3 * g], fp[3 * g + 1], fp[3 * g + 2]
        # gray vs RGB: same pixels, different bytes -> SAME fingerprint
        assert gray["phash_hex"] == rgb["phash_hex"], g
        # perturbed variant: near-dup, within 2 bits
        ham = sum(
            bin(gray[f"b{i}"] ^ pert[f"b{i}"]).count("1")
            for i in range(4)
        )
        assert ham <= 2, (g, ham)
    # cross-group frames are far apart (md5-random pixels ~ 32 bits)
    ham_cross = sum(
        bin(fp[0][f"b{i}"] ^ fp[3][f"b{i}"]).count("1") for i in range(4)
    )
    assert ham_cross > mm_max_hamming()


def mm_max_hamming():
    from kafka_streams_dexcom_spark.queries.multimodal import (
        PHASH_MAX_HAMMING,
    )

    return PHASH_MAX_HAMMING


def test_byte_dedup_blind_phash_sees(spark, sf_dir):
    """On the planted corpus, md5-of-payload dedup finds ZERO duplicate
    groups while phash pairs every group's three encodings — the gap
    multimodal_phash_dedup exists to close."""
    from kafka_streams_dexcom_spark.queries.multimodal import (
        q_multimodal_phash_dedup,
    )
    from kafka_streams_dexcom_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").limit(60)
    media = mm.media_payload(mm.IMAGE, docs)
    byte_groups = (
        media.groupBy(F.md5("payload"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter("n > 1")
        .count()
    )
    assert byte_groups == 0  # every encoding is byte-unique
    pairs = q_multimodal_phash_dedup(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    full_groups = n_docs // 3
    # every full group contributes its 3 within-group pairs
    within = [
        p
        for p in pairs
        if p["id_a"] // 3 == p["id_b"] // 3
    ]
    assert len(within) >= full_groups * 3
    for p in within:
        assert p["hamming"] <= 2, p


def test_audio_reencode_fingerprints_identically(spark):
    """The audio twin: mono and L=R stereo encodings of one sample
    group are byte-distinct REAL WAVs with the IDENTICAL energy
    contour; the perturbed variant stays within 2 bits."""
    from kafka_streams_dexcom_spark.functions.wav import wav_decode

    docs = spark.createDataFrame([(i,) for i in range(9)], "doc_id long")
    media = mm.media_payload(mm.AUDIO, docs)
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    # genuinely different encodings of the same samples
    assert payloads[0] != payloads[1]
    assert wav_decode(payloads[0])[1] == 1  # mono
    assert wav_decode(payloads[1])[1] == 2  # stereo
    fp = {
        r["doc_id"]: r
        for r in mm.media_fingerprints(mm.AUDIO, media).collect()
    }
    for g in range(3):
        mono, stereo, pert = fp[3 * g], fp[3 * g + 1], fp[3 * g + 2]
        assert mono["phash_hex"] == stereo["phash_hex"], g
        ham = sum(
            bin(mono[f"b{i}"] ^ pert[f"b{i}"]).count("1")
            for i in range(4)
        )
        assert ham <= 2, (g, ham)
    ham_cross = sum(
        bin(fp[0][f"b{i}"] ^ fp[3][f"b{i}"]).count("1") for i in range(4)
    )
    assert ham_cross > mm_max_hamming()


def test_contour_bands_bit_order():
    """Pin the audio bit layout: bit k set iff e[k+1] > e[k]."""
    import numpy as np

    inc = np.arange(mm.APH_FRAMES, dtype=np.int64)
    assert mm.pack_bands(mm.contour_bits(inc)) == (0xFFFF,) * 4
    dec = inc[::-1].copy()
    assert mm.pack_bands(mm.contour_bits(dec)) == (0, 0, 0, 0)


def test_dhash_bands_bit_order():
    """Pin the bit layout the oracle replays: bit k = r*8+c set iff
    d[r][c] > d[r][c+1], band b = bits [16b, 16b+16)."""
    import numpy as np

    # gradient rows: every left pixel < right pixel -> all bits 0
    inc = np.tile(np.arange(0, 36, 2, dtype=np.int64), (16, 1))
    assert mm.pack_bands(mm.dhash_bits(inc)) == (0, 0, 0, 0)
    # reversed gradient -> every comparison true -> all 64 bits set
    dec = inc[:, ::-1].copy()
    assert mm.pack_bands(mm.dhash_bits(dec)) == (0xFFFF,) * 4


def test_video_upscale_fingerprints_identically(spark):
    """The video twin: 4x4 and 2x-upscaled 8x8 encodings of one clip
    are byte-distinct REAL AVIs with the IDENTICAL brightness contour
    (floor-mean invariance: 4S // 4A == S // A); the perturbed variant
    stays within 1 bit (only frame 0's energy can move)."""
    from kafka_streams_dexcom_spark.functions.avi import avi_decode

    docs = spark.createDataFrame([(i,) for i in range(9)], "doc_id long")
    media = mm.media_payload(mm.VIDEO, docs)
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    assert payloads[0] != payloads[1]
    w0, h0, f0 = avi_decode(payloads[0])
    w1, h1, f1 = avi_decode(payloads[1])
    assert (w0, h0, len(f0)) == (mm.VPH_W, mm.VPH_H, mm.VPH_FRAMES)
    assert (w1, h1, len(f1)) == (2 * mm.VPH_W, 2 * mm.VPH_H, mm.VPH_FRAMES)
    # the upscale really is pixel-doubling of the same content
    assert (f1[0][::2, ::2] == f0[0]).all()
    fp = {
        r["doc_id"]: r
        for r in mm.media_fingerprints(mm.VIDEO, media).collect()
    }
    for g in range(3):
        base, up, pert = fp[3 * g], fp[3 * g + 1], fp[3 * g + 2]
        assert base["phash_hex"] == up["phash_hex"], g
        ham = sum(
            bin(base[f"b{i}"] ^ pert[f"b{i}"]).count("1")
            for i in range(4)
        )
        assert ham <= 1, (g, ham)
    ham_cross = sum(
        bin(fp[0][f"b{i}"] ^ fp[3][f"b{i}"]).count("1") for i in range(4)
    )
    assert ham_cross > mm_max_hamming()


def test_video_byte_dedup_blind_phash_sees(spark, sf_dir):
    """On the planted video corpus, md5-of-payload dedup finds ZERO
    duplicate groups while the banded pairing recovers every group's
    three encodings — the video_phash_dedup contract."""
    from kafka_streams_dexcom_spark.queries.multimodal import (
        q_video_phash_dedup,
    )
    from kafka_streams_dexcom_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents").limit(60)
    media = mm.media_payload(mm.VIDEO, docs)
    byte_groups = (
        media.groupBy(F.md5("payload"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter("n > 1")
        .count()
    )
    assert byte_groups == 0
    pairs = q_video_phash_dedup(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    full_groups = n_docs // 3
    within = [
        p for p in pairs if p["id_a"] // 3 == p["id_b"] // 3
    ]
    assert len(within) >= full_groups * 3
    for p in within:
        assert p["hamming"] <= 1, p


def test_video_phash_short_clip_raises(spark):
    """A clip with fewer than VPH_FRAMES frames raises per-row (honest
    failure) instead of emitting a truncated fingerprint."""
    import numpy as np
    import pytest

    from kafka_streams_dexcom_spark.functions.avi import avi_encode

    short = avi_encode(
        [np.zeros((4, 4), dtype=np.uint8) for _ in range(3)]
    )
    media = spark.createDataFrame(
        [(0, 0, bytearray(short))],
        "doc_id long, variant long, payload binary",
    )
    with pytest.raises(Exception, match="65 frames"):
        mm.media_fingerprints(mm.VIDEO, media).collect()


def test_phash_survivors_policy(spark, sf_dir):
    """Survivor election across the four modality pair graphs: every
    full planted group keeps exactly its min doc_id (the other two
    re-encodes map to it) in the contour modalities; the image_dct leg
    merges the rotated re-post ALWAYS (exact orbit identity) and the
    dithered re-encode for nearly every group (the p99<=threshold
    design bound — see test_multimodal_dct.py)."""
    from kafka_streams_dexcom_spark.queries.multimodal import (
        q_phash_survivors,
    )
    from kafka_streams_dexcom_spark.sources.files import load_table

    rows = q_phash_survivors(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == 4 * n_docs
    by_mod = {}
    for r in rows:
        by_mod.setdefault(r["modality"], {})[r["doc_id"]] = r
    assert set(by_mod) == {"image", "audio", "video", "image_dct"}
    full_groups = n_docs // 3
    for mod, docs in by_mod.items():
        if mod == "image_dct":
            continue
        for g in range(full_groups):
            trio = [docs[3 * g + v] for v in range(3)]
            for r in trio:
                assert r["canonical_id"] == 3 * g, (mod, g, r)
            assert [r["is_survivor"] for r in trio] == [
                True, False, False,
            ], (mod, g)
    dct = by_mod["image_dct"]
    merged_redo = 0
    for g in range(full_groups):
        base, rot, redo = (dct[3 * g + v] for v in range(3))
        # base always survives its group; the rot re-post always merges
        assert base["canonical_id"] == 3 * g and base["is_survivor"], g
        assert rot["canonical_id"] == 3 * g and not rot["is_survivor"], g
        if redo["canonical_id"] == 3 * g:
            assert not redo["is_survivor"], g
            merged_redo += 1
        else:  # the rare over-threshold dither: survives alone
            assert redo["canonical_id"] == 3 * g + 2, g
            assert redo["is_survivor"], g
    # design bound: dither stays within threshold for >= ~95% of groups
    assert merged_redo >= full_groups - max(1, full_groups // 20), (
        merged_redo,
        full_groups,
    )


def test_one_hamming_builder_per_engine():
    """The XOR popcount is written once per engine: ``bit_count(``
    appears in exactly one Spark-side function (operators/dedup.hamming)
    and one DuckDB-side function (queries/dedup.hamming_sql). And no
    oracle reaches the Spark-side band builders: an oracle that shares
    the engine's code cannot catch the engine's bug."""
    import ast
    import pathlib

    import kafka_streams_dexcom_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    holders = set()
    for f in sorted(root.rglob("*.py")):
        src = f.read_text()
        if "bit_count(" not in src:
            continue
        funcs = [
            n
            for n in ast.walk(ast.parse(src))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for lineno, line in enumerate(src.splitlines(), 1):
            if "bit_count(" in line:
                inside = [
                    n for n in funcs if n.lineno <= lineno <= n.end_lineno
                ]
                name = (
                    max(inside, key=lambda n: n.lineno).name
                    if inside
                    else "<module>"
                )
                holders.add(f"{f.relative_to(root).as_posix()}::{name}")
    assert holders == {
        "operators/dedup.py::hamming",
        "queries/dedup.py::hamming_sql",
    }, holders

    seen, offenders = oracle_reach(
        {"hamming", "hamming_band_pairs", "band_rows"}
    )
    assert "banded_pairs_sql" in seen and "hamming_sql" in seen
    assert offenders == []
