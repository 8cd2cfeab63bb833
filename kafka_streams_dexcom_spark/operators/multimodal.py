"""Multimodal column support: opaque binary payloads + typed metadata,
with decode/feature-extraction as Arrow-batched Pandas stages.

Design (per the 100 TB pipeline shape):
- media payloads are `binary` columns with a `media_type` discriminator and
  a metadata struct; parquet stores them column-wise so metadata-only
  queries never read the bytes (column pruning).
- decode / feature-extract / resize / frame-sample run as `mapInPandas`
  stages: each task receives Arrow record batches, the payload bytes stay
  off the driver, and output is a flat typed schema.
- decode dispatches per availability: `_decode_real` (PIL for images,
  lazily imported) when codecs are installed, else `_decode_stub`'s
  deterministic fake features. Oracle-checked queries pin the stub
  explicitly (use_real_codecs=False) since DuckDB can replay its
  arithmetic but not real pixels. The Spark-side plumbing — schema,
  batching, partitioning — is identical on both paths and fully tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.functions.avi import avi_decode, avi_encode
from kafka_streams_dexcom_spark.functions.dct import DCTP_N, dct_fingerprints
from kafka_streams_dexcom_spark.functions.hashing import pack_bands
from kafka_streams_dexcom_spark.functions.png import decode_png, encode_png
from kafka_streams_dexcom_spark.functions.wav import wav_decode, wav_encode
from kafka_streams_dexcom_spark.sources.files import fan_out_small

DECODE_SCHEMA = (
    "doc_id bigint, media_type string, width bigint, height bigint, "
    "n_frames bigint, feature_mean double"
)

_HAVE_REAL_CODECS = False
try:  # pragma: no cover - not present in this container
    import PIL.Image  # noqa: F401

    _HAVE_REAL_CODECS = True
except Exception:
    pass


def attach_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Build the multimodal column set from the documents table: the text
    bytes stand in for an encoded media payload."""
    return fan_out_small(docs).select(
        "doc_id",
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.col(text_col).cast("binary").alias("payload"),
        F.struct(
            F.octet_length(F.col(text_col).cast("binary")).alias("byte_len"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def _decode_stub(payload: bytes) -> tuple[int, int, int, float]:
    """STUB decode — deterministic fake features from the raw bytes
    (the oracle-reproducible twin of _decode_real)."""
    n = len(payload)
    first = payload[0] if n else 0
    width = 64 + n % 256
    height = 64 + (n * 7) % 256
    n_frames = 1 + n % 7
    feature_mean = round(((first + n) % 1000) / 1000.0, 6)
    return width, height, n_frames, feature_mean


def _decode_real(payload: bytes, media_type: str) -> tuple[int, int, int, float]:
    """Real codec adapter: PIL for images when importable (it covers
    every format); otherwise the vendored codecs — stdlib PNG
    (functions/png.py) and numpy baseline JPEG (functions/jpeg.py) — so
    PNG and JPEG payloads decode to REAL pixels on a bare cluster with
    zero extra dependencies. Other image formats without PIL raise
    per-payload — an honest failure, never silent fake features.
    Audio/video would wire torchaudio/ffmpeg the same way; until those
    land they fall back to the stub so a mixed-media frame still
    decodes. Imports are lazy so executors only pay for a codec when
    this path is actually taken."""
    if media_type == "image":
        if _HAVE_REAL_CODECS:
            import io

            import numpy as np
            import PIL.Image

            with PIL.Image.open(io.BytesIO(payload)) as img:
                width, height = img.size
                n_frames = int(getattr(img, "n_frames", 1))
                arr = np.asarray(img.convert("L"), dtype=np.float64)
                feature_mean = round(float(arr.mean()) / 255.0, 6)
            return width, height, n_frames, feature_mean
        from kafka_streams_dexcom_spark.functions.jpeg import (
            JPEG_MAGIC,
            jpeg_features,
        )
        from kafka_streams_dexcom_spark.functions.png import (
            PNG_MAGIC,
            png_features,
        )

        if payload[:8] == PNG_MAGIC:
            return png_features(payload)
        if payload[:2] == JPEG_MAGIC:
            return jpeg_features(payload)
        raise ValueError(
            "real image decode without PIL supports PNG and baseline "
            "JPEG only (payload is neither)"
        )
    return _decode_stub(payload)


def decode_features(
    media: DataFrame, use_real_codecs: bool | None = None
) -> DataFrame:
    """Arrow-batched decode/feature-extraction over the payload column.

    mapInPandas: one pandas DataFrame per Arrow batch per task — payloads
    are processed executor-side in batch, never collected. Output rows are
    flat/typed so downstream stages are plain columnar ops again.

    ``use_real_codecs``: None = auto (real codecs when PIL is
    importable; the vendored PNG decoder is always available but is not
    auto-selected, because auto-mode payloads here are arbitrary bytes,
    not PNGs). True forces the real path: PIL when present, else the
    stdlib PNG codec — non-PNG images then fail per-payload instead of
    silently faking features. The oracle-checked queries pass False
    explicitly — the deterministic stub is what the DuckDB replay
    reproduces; real decoded pixels cannot be."""
    if use_real_codecs is None:
        use_real_codecs = _HAVE_REAL_CODECS
    decode = _decode_real if use_real_codecs else (
        lambda p, _mt: _decode_stub(p)
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            # a NULL payload (missing media) yields null features, not a
            # len(None) TypeError that kills the stage on one bad row
            feats = [
                (None, None, None, None)
                if p is None
                else decode(p, mt)
                for p, mt in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "n_frames": [f[2] for f in feats],
                    "feature_mean": [f[3] for f in feats],
                }
            )

    return media.select("doc_id", "media_type", "payload").mapInPandas(
        run, schema=DECODE_SCHEMA
    )


AUDIO_SCHEMA = (
    "doc_id bigint, sample_rate bigint, n_channels bigint, "
    "n_frames bigint, peak_abs bigint, mean_abs_milli bigint"
)


def attach_wav_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a REAL RIFF/WAVE payload column from the documents
    table (Arrow-batched; the bytes never touch the driver): each text
    byte becomes one 16-bit sample, (b−128)·256, interleaved into
    1 + doc_id%2 channels at 8000 + (doc_id%3)·4000 Hz, trailing
    partial frame truncated. Deterministic byte-for-byte, so an oracle
    can recompute every downstream feature from the text column — while
    the payloads themselves are genuine WAV files any reader accepts.

    In production this column arrives from object storage; this
    synthesizer stands in for the crawler and doubles as the encoder
    half of the codec round trip (every decode below reads bytes the
    vendored encoder wrote)."""
    from collections.abc import Iterator as _It

    def run(batches: _It["pd.DataFrame"]) -> _It["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        from kafka_streams_dexcom_spark.functions.wav import wav_encode

        for pdf in batches:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                b = np.frombuffer(
                    str(text).encode("utf-8"), dtype=np.uint8
                ).astype(np.int16)
                ch = 1 + int(did) % 2
                rate = 8000 + (int(did) % 3) * 4000
                frames = b.size // ch
                samples = (b[: frames * ch] - 128) * 256
                payloads.append(wav_encode(samples, rate, ch, bits=16))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    return fan_out_small(docs).select("doc_id", text_col).mapInPandas(
        run, schema="doc_id bigint, payload binary"
    )


def audio_features(media: DataFrame) -> DataFrame:
    """Arrow-batched audio feature extraction over a binary WAV column:
    vendored RIFF/PCM decode (functions/wav.py) → integer features
    (rate, channels, frames, peak, milli-unit mean absolute amplitude).
    Same contract as decode_features for images: payload bytes stay
    executor-side, output is flat/typed, a malformed payload raises
    per-row (honest failure) rather than yielding fake features."""
    from collections.abc import Iterator as _It

    def run(batches: _It["pd.DataFrame"]) -> _It["pd.DataFrame"]:
        import pandas as pd

        from kafka_streams_dexcom_spark.functions.wav import wav_features

        for pdf in batches:
            feats = [
                (None,) * 5 if p is None else wav_features(bytes(p))
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sample_rate": [f[0] for f in feats],
                    "n_channels": [f[1] for f in feats],
                    "n_frames": [f[2] for f in feats],
                    "peak_abs": [f[3] for f in feats],
                    "mean_abs_milli": [f[4] for f in feats],
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        run, schema=AUDIO_SCHEMA
    )


VIDEO_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, n_frames bigint, "
    "frame_idx bigint, mean_milli bigint"
)


def attach_avi_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize a REAL uncompressed-AVI payload column from the
    documents table (Arrow-batched): 1 + n_bytes%5 frames of 8×8
    grayscale, frame k pixel p = text byte (k·64+p) mod n — cyclic and
    byte-deterministic, so the oracle recomputes every frame mean from
    the text column while the payloads are genuine AVI files. A
    byte-free doc gets zero frames (an empty movi list, still a valid
    AVI). Same stand-in contract as attach_wav_payload."""
    from collections.abc import Iterator as _It

    def run(batches: _It["pd.DataFrame"]) -> _It["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        from kafka_streams_dexcom_spark.functions.avi import avi_encode

        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                b = np.frombuffer(
                    str(text).encode("utf-8"), dtype=np.uint8
                )
                if b.size == 0:
                    payloads.append(avi_encode([]))
                    continue
                n_frames = 1 + b.size % 5
                idx = (
                    np.arange(n_frames * 64).reshape(n_frames, 8, 8)
                    % b.size
                )
                payloads.append(
                    avi_encode([b[idx[k]] for k in range(n_frames)])
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    return fan_out_small(docs).select("doc_id", text_col).mapInPandas(
        run, schema="doc_id bigint, payload binary"
    )


def video_features(media: DataFrame) -> DataFrame:
    """Arrow-batched video decode over a binary AVI column: vendored
    RIFF/AVI parse (functions/avi.py) → one row per FRAME with the
    integer milli-unit pixel mean — the per-frame feature stage a video
    curation pipeline fans out before embedding/filtering. Payload
    bytes stay executor-side; malformed payloads raise per-row."""
    from collections.abc import Iterator as _It

    def run(batches: _It["pd.DataFrame"]) -> _It["pd.DataFrame"]:
        import pandas as pd

        from kafka_streams_dexcom_spark.functions.avi import avi_features

        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                if p is None:
                    continue
                w, h, n, means = avi_features(bytes(p))
                for k, m in enumerate(means):
                    rows.append((did, w, h, n, k, m))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "n_frames",
                    "frame_idx", "mean_milli",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(
        run, schema=VIDEO_SCHEMA
    )


# ------------------------------------------------- perceptual hashing
# Four fingerprint families, one MediaFamily row each. Every family
# plants one corpus shape: group g = doc_id div PHASH_GROUP fixes the
# content, drawn from an md5 byte stream the DuckDB oracle replays, and
# variant v = doc_id % PHASH_GROUP picks a re-encode that shares no
# payload bytes with v0. Every fingerprint is 64 bits carried as four
# 16-bit band ints (PHASH_WORDS), so banded blocking and XOR popcounts
# stay sign-safe int arithmetic in BOTH engines.
PHASH_GROUP = 3  # docs per group: 3 encodings of the same content
PHASH_PERTURB = 64  # variant 2's +64 (mod 256) on source byte 0
PHASH_WORDS = ("b0", "b1", "b2", "b3")

# dHash: 16x18 gray frames, box-downsampled 2x2 to 8 rows x 9 cols,
# bit (r, c) = d[r][c] > d[r][c+1].
PHASH_SRC_W = 18
PHASH_SRC_H = 16

# Rotation-invariant DCT hash (functions/dct.py): 16x16 gray corpus
# with planted DIHEDRAL re-posts + recompression dither, the duplicate
# classes dHash provably misses / marginally catches.
DCTP_DITHER = 4  # variant 2's per-pixel +/-4 (the re-compress artifact)
DCTP_BRIGHT = 8  # variant 2's +8 brightness (clipped at 255)

# Audio: 65-frame energy contour -> 64 derivative-sign bits (the
# chromaprint/shazam family's simplest honest member).
APH_FRAMES = 65
APH_FRAME = 16  # samples per frame per channel

# Video: 65-frame brightness contour -> 64 derivative-sign bits. The
# per-frame energy is floor(sum(pixels) / (w*h)), which is EXACTLY
# invariant under integer pixel-doubling (4S // 4A == S // A), so a
# 2x-upscaled re-encode fingerprints identically while sharing zero
# frame bytes with the original.
VPH_FRAMES = 65
VPH_W = 4
VPH_H = 4


def md5_bytes(key: str, n: int) -> np.ndarray:
    """The first ``n`` bytes of md5('<key>:0') || md5('<key>:1') || ...
    as int64: byte i is byte i%16 of md5('<key>:<i//16>'), which the
    oracle replays with its own md5."""
    digests = b"".join(
        hashlib.md5(f"{key}:{r}".encode()).digest()
        for r in range((n + 15) // 16)
    )
    return np.frombuffer(digests[:n], dtype=np.uint8).astype(np.int64)


def _planted(tag: str, g: int, v: int, n: int) -> np.ndarray:
    """Group ``g``'s ``n`` source bytes under ``tag``; variant 2 (the
    near-dup) bumps byte 0 by PHASH_PERTURB (mod 256)."""
    x = md5_bytes(f"{tag}:{g}", n)
    if v == 2:
        x[0] = (x[0] + PHASH_PERTURB) % 256
    return x


def fp_hex(bands) -> str:
    """The 16-hex-digit fingerprint, b3 first."""
    return "".join(f"{b:04X}" for b in reversed(bands))


def dhash_bits(gray: np.ndarray) -> np.ndarray:
    """64 dHash bits of an (even-H x even-W) gray raster: 2x2 integer
    box-downsample to 8x9, bit k (= r*8+c) set iff d[r][c] > d[r][c+1]."""
    d = (
        gray[0::2, 0::2].astype("int64")
        + gray[0::2, 1::2]
        + gray[1::2, 0::2]
        + gray[1::2, 1::2]
    ) // 4
    return (d[:, :-1] > d[:, 1:]).reshape(-1)


def contour_bits(energies: np.ndarray) -> np.ndarray:
    """64 contour bits of 65 integer frame energies: bit k set iff
    e[k+1] > e[k]."""
    return energies[1:] > energies[:-1]


def dctp_src_pixels(g: int) -> np.ndarray:
    """Deterministic 16x16 source frame of group ``g``: the md5 stream
    under tag 'phd'."""
    return md5_bytes(f"phd:{g}", DCTP_N * DCTP_N).reshape(DCTP_N, DCTP_N)


def dctp_variant_pixels(g: int, v: int) -> np.ndarray:
    """Pixel raster of doc variant ``v`` in group ``g``: v0 the base
    frame, v1 its 90-degree rotation (the rotated re-post — zero
    shared payload bytes, ~32/64 dHash bits away, EXACTLY the same
    DCT fingerprint set), v2 the dithered+brightened re-encode
    (per-pixel +/-DCTP_DITHER from the parity of the 'phdn' md5
    stream, then +DCTP_BRIGHT, clipped to [0, 255] — the recompression
    artifact, within DCT threshold)."""
    img = dctp_src_pixels(g)
    if v == 1:
        return np.rot90(img)
    if v == 2:
        d = md5_bytes(f"phdn:{g}", DCTP_N * DCTP_N).reshape(DCTP_N, DCTP_N)
        dither = np.where(d % 2 == 1, DCTP_DITHER, -DCTP_DITHER)
        return np.clip(img + dither + DCTP_BRIGHT, 0, 255)
    return img


def _png(px: np.ndarray, channels: int) -> bytes:
    """A gray raster as a PNG: one channel, or RGB with R=G=B."""
    h, w = px.shape
    raw = px.astype(np.uint8)
    if channels == 3:
        raw = np.repeat(raw.reshape(-1), 3)
    return encode_png(w, h, raw.tobytes(), channels=channels)


def _png_luma(payload: bytes) -> np.ndarray:
    """Integer luma of a PNG: the gray channel, or Pillow's exact
    (R*19595 + G*38470 + B*7471) >> 16 for RGB."""
    w, h, ch, px = decode_png(payload)
    a = np.frombuffer(px, dtype=np.uint8).astype(np.int64).reshape(h, w, ch)
    if ch == 1:
        return a[:, :, 0]
    return (a[:, :, 0] * 19595 + a[:, :, 1] * 38470 + a[:, :, 2] * 7471) >> 16


def _wav(b: np.ndarray, v: int) -> bytes:
    """Source bytes as 16-bit samples (b-128)*256 at 8 kHz: mono, or
    interleaved L=R stereo for variant 1."""
    s = (b - 128) * 256
    if v == 1:
        return wav_encode(np.repeat(s, 2), 8000, n_channels=2)
    return wav_encode(s, 8000, n_channels=1)


def _wav_energy(payload: bytes) -> np.ndarray:
    """Per-frame integer mean-abs energy of a WAV, channel-count
    invariant: an L=R stereo re-encode yields the same contour."""
    _rate, ch, _bits, s = wav_decode(payload)
    a = np.abs(s.astype(np.int64))
    per = APH_FRAME * ch
    n_frames = a.size // per
    return a[: n_frames * per].reshape(n_frames, per).sum(axis=1) // per


def _avi(px: np.ndarray, v: int) -> bytes:
    """A (frames, H, W) clip as an AVI; variant 1 pixel-doubled 2x."""
    frames = px.astype(np.uint8)
    if v == 1:
        frames = frames.repeat(2, axis=1).repeat(2, axis=2)
    return avi_encode(list(frames))


def _avi_brightness(payload: bytes) -> np.ndarray:
    """Per-frame integer brightness floor(sum/area) of the first
    VPH_FRAMES frames; a shorter clip raises (a 64-bit contour needs 65
    frames)."""
    w, h, frames = avi_decode(payload)
    if len(frames) < VPH_FRAMES:
        raise ValueError(
            f"video phash needs >= {VPH_FRAMES} frames, got {len(frames)}"
        )
    return (
        np.stack(frames[:VPH_FRAMES]).astype(np.int64).sum(axis=(1, 2))
        // (w * h)
    )


def _contour(energies: np.ndarray) -> list:
    return [(0, *pack_bands(contour_bits(energies)))]


class MediaFamily(NamedTuple):
    """One perceptual fingerprint family. ``source(g, v)`` is the md5
    source rule of group g's variant v and ``encode(x, v)`` turns it
    into REAL payload bytes; ``decode(payload)`` recovers the integer
    signal and ``fingerprint(x)`` its [(orient, b0, b1, b2, b3)]: one
    row, or one per dihedral orientation when ``oriented``."""

    name: str
    source: Callable
    encode: Callable
    decode: Callable
    fingerprint: Callable
    oriented: bool = False


# image dHash: v0 gray PNG, v1 RGB PNG with R=G=B (identical luma, the
# re-encode byte dedup can't see), v2 the one-pixel perturbed frame
IMAGE = MediaFamily(
    "image",
    lambda g, v: _planted("ph", g, v, PHASH_SRC_W * PHASH_SRC_H).reshape(
        PHASH_SRC_H, PHASH_SRC_W
    ),
    lambda px, v: _png(px, 3 if v == 1 else 1),
    _png_luma,
    lambda gray: [(0, *pack_bands(dhash_bits(gray)))],
)
# audio contour: v0 mono 16-bit, v1 L=R stereo (twice the bytes, same
# per-frame energy), v2 sample 0 perturbed
AUDIO = MediaFamily(
    "audio",
    lambda g, v: _planted("aph", g, v, APH_FRAMES * APH_FRAME),
    _wav,
    _wav_energy,
    _contour,
)
# video contour: v0 4x4 gray frames, v1 the clip upscaled 2x to 8x8
# (four times the frame bytes, same floor-mean contour), v2 frame-0
# pixel 0 perturbed
VIDEO = MediaFamily(
    "video",
    lambda g, v: _planted("vph", g, v, VPH_FRAMES * VPH_H * VPH_W).reshape(
        VPH_FRAMES, VPH_H, VPH_W
    ),
    _avi,
    _avi_brightness,
    _contour,
)
# DCT orientation set: base / rot90 / dither+brighten gray PNGs; 8
# fingerprints per doc, one per dihedral orientation
IMAGE_DCT = MediaFamily(
    "image_dct",
    dctp_variant_pixels,
    lambda px, v: _png(px, 1),
    _png_luma,
    dct_fingerprints,
    oriented=True,
)
MEDIA_FAMILIES = {f.name: f for f in (IMAGE, AUDIO, VIDEO, IMAGE_DCT)}


def media_payload(family: MediaFamily, docs: DataFrame) -> DataFrame:
    """Synthesize ``family``'s planted corpus as (doc_id, variant,
    payload) REAL media bytes (Arrow-batched; the bytes never touch the
    driver). Deterministic byte-for-byte — the attach_wav_payload
    stand-in contract."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ids = [int(d) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "variant": [d % PHASH_GROUP for d in ids],
                    "payload": [
                        family.encode(
                            family.source(d // PHASH_GROUP, d % PHASH_GROUP),
                            d % PHASH_GROUP,
                        )
                        for d in ids
                    ],
                }
            )

    return fan_out_small(docs).select("doc_id").mapInPandas(
        run, schema="doc_id bigint, variant bigint, payload binary"
    )


def media_fingerprints(family: MediaFamily, media: DataFrame) -> DataFrame:
    """Arrow-batched REAL decode -> perceptual fingerprint over a
    (doc_id, variant, payload) frame: (doc_id, variant[, orient], b0..b3,
    phash_hex), one row per fingerprint. Payload bytes stay
    executor-side; a malformed payload raises per-row. Which encoding
    produced the bytes is unobservable in the fingerprint — that IS the
    operator's point."""
    # every fingerprint leads with its orient; a lone one drops it
    skip = 0 if family.oriented else 1
    cols = ["doc_id", "variant", *["orient", *PHASH_WORDS][skip:]]

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = [
                (int(d), int(v), *fp[skip:], fp_hex(fp[1:]))
                for d, v, p in zip(
                    pdf["doc_id"], pdf["variant"], pdf["payload"]
                )
                for fp in family.fingerprint(family.decode(bytes(p)))
            ]
            yield pd.DataFrame(rows, columns=cols + ["phash_hex"])

    return media.select("doc_id", "variant", "payload").mapInPandas(
        run,
        schema=", ".join(f"{c} bigint" for c in cols) + ", phash_hex string",
    )


def frame_sample(
    media: DataFrame,
    every_n: int = 2,
    use_real_codecs: bool | None = None,
) -> DataFrame:
    """Frame-sampling plumbing demo: expand each video payload into frame
    rows (stub: one row per fake frame index), keeping every n-th. The
    explode happens executor-side; at scale this is the fan-out stage
    before per-frame feature extraction."""
    frames = decode_features(
        media.filter(F.col("media_type") == "video"),
        use_real_codecs=use_real_codecs,
    )
    return (
        frames.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias(
                "frame_idx"
            ),
            "feature_mean",
        )
        .filter(F.col("frame_idx") % every_n == 0)
    )
