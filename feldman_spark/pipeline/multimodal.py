"""Multimodal column plumbing: images/audio/video as opaque binary columns
with typed metadata.

Beyond-reference capability. The Spark-side machinery — schema, batch
iteration, partition sizing, UDF signatures — is real and tested. Actual
decoding: PNG, uncompressed BMP, JPEG (baseline AND progressive) and
PCM WAV decode for
real via the pure-stdlib :mod:`feldman_spark.pipeline.codecs`; formats
that genuinely need PIL/ffmpeg (MP3, video containers)
raise
``NotImplementedError`` at the documented swap point — a deployment
swaps ``codecs.decode_image_bytes`` / the frame extractor for library
calls without touching the dataflow. ``fake=True`` keeps the
deterministic md5 twin used by the pinned oracle.

Design for 100 TB of media:

* media bytes ride an opaque ``binary`` column next to typed metadata —
  column pruning means metadata-only queries never read the bytes;
* all per-item work happens in ``mapInPandas`` over Arrow batches —
  tune bytes-per-batch with ``spark.sql.execution.arrow.maxRecordsPerBatch``
  and partition input by size so a batch of large videos fits in memory;
* derived features are plain numeric/array columns → every downstream
  operator (dedup, similarity, filtering) applies unchanged.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, LongType, StringType, StructField, StructType,
)

from feldman_spark.ops.sizing import persist_scoped

__all__ = [
    "MEDIA_SCHEMA",
    "media_table",
    "decode_image",
    "decode_audio",
    "resize_image",
    "image_stats",
    "extract_features",
    "probe_media",
    "frame_sample",
    "image_dhash",
    "phash_dedup",
    "media_band_rows",
    "media_dedup_incremental",
    "audio_fingerprint",
]

# The drop-don't-fail contract: one corrupt payload must not fail a
# 100 TB stage. The catch is deliberately NARROW — the codecs' public
# entry points normalize the parse-internal failure modes of
# adversarial streams (struct.error / KeyError / IndexError) to
# ValueError at their API boundary (codecs._corrupt_stream_boundary),
# so a genuine programming bug introduced in the PIPELINE side keeps
# failing loudly instead of being silently classified as a corrupt
# payload drop.
_DECODE_ERRORS = (ValueError, NotImplementedError)

# typed metadata + opaque payload: the storage contract for media columns
MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),        # image | audio | video
    StructField("mime", StringType(), True),
    StructField("width", LongType(), True),           # images/video
    StructField("height", LongType(), True),
    StructField("duration_ms", LongType(), True),     # audio/video
    StructField("data", BinaryType(), True),          # opaque payload
])


def media_table(spark, rows) -> DataFrame:
    """Construct a media table conforming to :data:`MEDIA_SCHEMA`."""
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _decode_image_real(data: bytes) -> bytes:
    """Real pixel decode for the natively-supported formats (PNG, BMP,
    baseline + progressive JPEG) — see
    :func:`feldman_spark.pipeline.codecs.decode_image_bytes`, the
    single swap point for a PIL-backed deployment."""
    from feldman_spark.pipeline import codecs

    _w, _h, _ch, pixels = codecs.decode_image_bytes(bytes(data))
    return pixels


def decode_image(df: DataFrame, fake: bool = False) -> DataFrame:
    """Decode the payload of image rows into a ``pixels`` binary column
    (raw row-major RGB(A)/gray samples). PNG, uncompressed BMP and
    JPEG (baseline + progressive) decode for real via the stdlib
    codecs; other formats raise
    ``NotImplementedError`` naming the PIL swap point. ``fake=True``
    passes the payload through as the deterministic oracle twin.
    Arrow-batched ``mapInPandas``; non-image rows pass through with null
    pixels. Batch shape: one pandas DataFrame per Arrow batch."""
    schema = StructType(list(df.schema.fields) + [StructField("pixels", BinaryType(), True)])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out["pixels"] = [
                (bytes(d) if fake else _decode_image_real(d))
                if k == "image" and d is not None else None
                for k, d in zip(pdf["kind"], pdf["data"])
            ]
            yield out

    return df.mapInPandas(run, schema=schema)


def decode_audio(df: DataFrame) -> DataFrame:
    """Decode PCM WAV payloads of audio rows into per-item stats:
    ``(media_id, sample_rate, n_channels, duration_ms, n_frames,
    rms)`` — the audio analog of :func:`decode_image`, real bytes in,
    typed scalars out (RMS over int16 samples as the level probe).
    Non-audio / undecodable rows are dropped (same contract as
    :func:`frame_sample` for non-video). Compressed codecs raise
    ``NotImplementedError`` at the ffmpeg swap point inside
    :mod:`feldman_spark.pipeline.codecs`."""
    from feldman_spark.pipeline import codecs

    schema = StructType([
        StructField("media_id", LongType(), False),
        StructField("sample_rate", LongType(), True),
        StructField("n_channels", LongType(), True),
        StructField("duration_ms", LongType(), True),
        StructField("n_frames", LongType(), True),
        StructField("rms", DoubleType(), True),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, kind, data in zip(
                    pdf["media_id"], pdf["kind"], pdf["data"]):
                if kind != "audio" or data is None:
                    continue
                try:
                    rate, ch, dur, samples = codecs.decode_wav(bytes(data))
                except _DECODE_ERRORS:
                    # malformed payload or a codec this environment can't
                    # decode: drop the row, per the documented contract —
                    # one bad file must not fail a 100 TB stage
                    continue
                rms = float(np.sqrt(np.mean(
                    samples.astype(np.float64) ** 2))) if samples.size else 0.0
                rows.append((int(mid), rate, ch, dur,
                             int(samples.shape[0]), round(rms, 6)))
            yield pd.DataFrame(
                rows, columns=["media_id", "sample_rate", "n_channels",
                               "duration_ms", "n_frames", "rms"])

    return df.mapInPandas(run, schema=schema)


def resize_image(df: DataFrame, width: int, height: int, fake: bool = False,
                 out_format: str = "png", quality: int = 85) -> DataFrame:
    """Resize image payloads to ``width``×``height``: output mirrors the
    input schema with the payload replaced and the size metadata
    updated. ``out_format`` picks the re-encode: ``"png"`` (lossless)
    or ``"jpeg"`` (baseline, ``quality`` knob — the thumbnail-store
    format, ~10× smaller; alpha is dropped per the format).
    The real path decodes via the stdlib codecs (PNG/BMP/JPEG),
    resamples bilinearly and re-encodes; payloads those codecs can't
    decode are passed through UNCHANGED (one odd file must not fail a
    100 TB stage — same contract as decode_audio). ``fake=True`` keeps
    the deterministic digest twin used by the pinned oracle; non-image
    rows pass through untouched. Same Arrow-batch contract as decode."""
    from feldman_spark.pipeline import codecs

    if out_format not in ("png", "jpeg"):
        raise ValueError(
            f"resize_image: out_format must be png|jpeg (got {out_format!r})")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            data, ws, hs = [], [], []
            for k, d, w, h in zip(pdf["kind"], pdf["data"], pdf["width"], pdf["height"]):
                if k != "image" or d is None:
                    data.append(d)
                    ws.append(w)
                    hs.append(h)
                    continue
                if fake:
                    data.append(hashlib.md5(
                        bytes(d) + f"{width}x{height}".encode()).digest())
                    ws.append(width)
                    hs.append(height)
                    continue
                try:
                    sw, sh, ch, px = codecs.decode_image_bytes(bytes(d))
                    resized = codecs.resize_pixels(
                        px, sw, sh, ch, width, height)
                    if out_format == "jpeg":
                        enc_px, enc_ch = resized, ch
                        if ch == 2:
                            # JPEG carries no alpha plane: keep the gray
                            # channel (RGBA alpha is dropped inside
                            # encode_jpeg, but 2-channel would raise and
                            # wrongly hit the undecodable pass-through)
                            import numpy as np
                            enc_px = np.frombuffer(
                                resized, np.uint8)[::2].tobytes()
                            enc_ch = 1
                        data.append(codecs.encode_jpeg(
                            enc_px, width, height, enc_ch, quality=quality))
                    else:
                        data.append(codecs.encode_png(
                            resized, width, height, ch))
                    ws.append(width)
                    hs.append(height)
                except _DECODE_ERRORS:
                    data.append(d)
                    ws.append(w)
                    hs.append(h)
            out["data"] = data
            out["width"] = pd.array(ws, dtype="Int64")
            out["height"] = pd.array(hs, dtype="Int64")
            yield out

    return df.mapInPandas(run, schema=df.schema)


def image_stats(df: DataFrame) -> DataFrame:
    """Per-image pixel statistics over the REAL decoded samples —
    ``(media_id, width, height, channels, mean_luma, std_luma,
    entropy)`` with luminance the BT.601 weighting and entropy the
    Shannon entropy (bits) of the 256-bin gray histogram. The
    dedup/quality features a media pipeline filters on (flat or
    near-empty images score near-zero entropy). Rows whose payload the
    stdlib codecs can't decode are dropped, per the decode_audio
    contract. Arrow-batched ``mapInPandas``."""
    from feldman_spark.pipeline import codecs

    schema = StructType([
        StructField("media_id", LongType(), False),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("channels", LongType(), True),
        StructField("mean_luma", DoubleType(), True),
        StructField("std_luma", DoubleType(), True),
        StructField("entropy", DoubleType(), True),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        rows = []
        for pdf in batches:
            for mid, kind, d in zip(pdf["media_id"], pdf["kind"],
                                    pdf["data"]):
                if kind != "image" or d is None:
                    continue
                try:
                    w, h, ch, px = codecs.decode_image_bytes(bytes(d))
                except _DECODE_ERRORS:
                    continue
                arr = np.frombuffer(px, np.uint8).reshape(h, w, ch)
                if ch >= 3:
                    luma = (0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1]
                            + 0.114 * arr[:, :, 2])
                else:
                    luma = arr[:, :, 0].astype(np.float64)
                hist = np.bincount(
                    np.clip(np.round(luma), 0, 255).astype(np.int64)
                    .reshape(-1), minlength=256)
                p = hist[hist > 0] / hist.sum()
                rows.append((int(mid), w, h, ch,
                             round(float(luma.mean()), 6),
                             round(float(luma.std()), 6),
                             round(float(-(p * np.log2(p)).sum()), 6)))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "channels",
                               "mean_luma", "std_luma", "entropy"])
            rows = []

    return df.mapInPandas(run, schema=schema)


def extract_features(df: DataFrame, dim: int = 8) -> DataFrame:
    """Deterministic feature extraction over the payload: an md5-seeded
    pseudo-embedding (stands in for a real vision/audio encoder; the
    shape — binary in, fixed-dim double array out, Arrow-batched — is the
    production contract)."""
    schema = StructType([
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("features", ArrayType(DoubleType()), True),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, sizes = [], []
            for d in pdf["data"]:
                if d is None:
                    sizes.append(None)
                    feats.append(None)
                    continue
                sizes.append(len(d))
                h = hashlib.md5(bytes(d)).digest()
                feats.append([round(h[i] / 255.0, 6) for i in range(dim)])
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pd.array(sizes, dtype="Int64"),
                "features": feats,
            })

    return df.mapInPandas(run, schema=schema)


def probe_media(df: DataFrame) -> DataFrame:
    """Container-metadata probe over REAL payload bytes: sniff every
    payload and parse what the stdlib can — image dimensions (PNG/BMP/
    baseline JPEG decode), WAV rate/duration, MP4/AVI container headers
    (duration + frame size, no frame decode). Returns ``(media_id,
    kind, container, width, height, duration_ms)`` — the
    trust-the-bytes-not-the-catalog audit that catches mislabeled
    media before a pipeline partitions by the declared metadata.
    Unprobeable payloads are dropped (decode_audio contract)."""
    from feldman_spark.pipeline import codecs

    schema = StructType([
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("container", StringType(), True),
        StructField("width", LongType(), True),
        StructField("height", LongType(), True),
        StructField("duration_ms", LongType(), True),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, d in zip(pdf["media_id"], pdf["kind"],
                                    pdf["data"]):
                if d is None:
                    continue
                b = bytes(d)
                fmt = codecs.sniff_media(b)
                try:
                    if fmt in ("png", "bmp", "jpeg"):
                        w, h, _ch, _px = codecs.decode_image_bytes(b)
                        rows.append((int(mid), kind, fmt, w, h, None))
                    elif fmt == "wav":
                        _rate, _ch, dur, _s = codecs.decode_wav(b)
                        rows.append((int(mid), kind, fmt, None, None, dur))
                    elif fmt in ("mp4", "avi"):
                        _c, dur, w, h = codecs.probe_video(b)
                        rows.append((int(mid), kind, fmt, w, h, dur))
                except _DECODE_ERRORS:
                    continue
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "container", "width",
                               "height", "duration_ms"]
            ).astype({"width": "Int64", "height": "Int64",
                      "duration_ms": "Int64"})

    return df.mapInPandas(run, schema=schema)


def frame_sample(df: DataFrame, every_ms: int = 1000, fake: bool = False) -> DataFrame:
    """Sample frames from video payloads: one output row per sampled
    timestamp. Frame extraction is stubbed; with ``fake=True`` each frame
    is a deterministic digest of (payload, timestamp) so downstream
    dedup/similarity over frames is exercisable end to end."""
    schema = StructType([
        StructField("media_id", LongType(), False),
        StructField("frame_ms", LongType(), False),
        StructField("frame", BinaryType(), True),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ts, frames = [], [], []
            for mid, kind, dur, data in zip(
                pdf["media_id"], pdf["kind"], pdf["duration_ms"], pdf["data"]
            ):
                if kind != "video" or data is None or dur is None:
                    continue
                if not fake:
                    raise NotImplementedError(
                        "video frame extraction requires a media library not "
                        "present in this environment; pass fake=True")
                for t in range(0, int(dur), every_ms):
                    ids.append(mid)
                    ts.append(t)
                    frames.append(hashlib.md5(bytes(data) + str(t).encode()).digest())
            yield pd.DataFrame({"media_id": ids, "frame_ms": ts, "frame": frames})

    return df.mapInPandas(run, schema=schema)


def image_dhash(df: DataFrame, out_col: str = "dhash") -> DataFrame:
    """Per-image 64-bit difference hash (dHash): decode, bilinear-resize
    to 9×8 grayscale (BT.601 luma), set bit ``y*8+x`` when
    ``gray[y][x] < gray[y][x+1]``. The standard perceptual fingerprint —
    invariant to re-encoding, scaling and mild pixel noise, so it
    catches the thumbnail/recompress duplicates byte-hash dedup misses.
    Returns ``(media_id, dhash bigint)``; non-image / undecodable rows
    are dropped per the decode contract. Arrow-batched ``mapInPandas``,
    one decode+resize per image — at 100 TB this is the scan that turns
    opaque payload bytes into an 8-byte join key, after which dedup is
    pure relational work (:func:`phash_dedup`)."""
    from feldman_spark.pipeline import codecs

    schema = StructType([
        StructField("media_id", LongType(), False),
        StructField(out_col, LongType(), False),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, hashes = [], []
            for mid, kind, d in zip(pdf["media_id"], pdf["kind"],
                                    pdf["data"]):
                if kind != "image" or d is None:
                    continue
                try:
                    w, h, ch, px = codecs.decode_image_bytes(bytes(d))
                    small = codecs.resize_pixels(px, w, h, ch, 9, 8)
                except _DECODE_ERRORS:
                    continue
                a = np.frombuffer(small, np.uint8).reshape(8, 9, ch)
                a = a.astype(np.float64)
                if ch >= 3:
                    gray = (0.299 * a[:, :, 0] + 0.587 * a[:, :, 1]
                            + 0.114 * a[:, :, 2])
                else:
                    gray = a[:, :, 0]
                bits = (gray[:, :-1] < gray[:, 1:]).flatten()
                packed = int.from_bytes(np.packbits(bits).tobytes(), "big")
                if packed >= 1 << 63:   # two's-complement into bigint
                    packed -= 1 << 64
                ids.append(int(mid))
                hashes.append(packed)
            yield pd.DataFrame({"media_id": ids, out_col: hashes})

    return df.mapInPandas(run, schema=schema)


def media_band_rows(
    hashed: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    bands: int = 4,
) -> DataFrame:
    """Split each 64-bit perceptual hash into ``bands`` equal bit-slices
    and emit ``(id, hash, band, key)`` rows — the storable near-dup
    fingerprint for media, mirroring the text side's
    :func:`feldman_spark.pipeline.dedup.minhash_band_rows`. Unlike the
    text band store (band hashes only, history hits unverifiable), each
    row CARRIES the full 64-bit hash, so an incremental ingest can
    verify history candidates with an exact ``bit_count`` — ~4 slim
    rows (~30 B) per item, independent of payload size. Pure codegen
    bit arithmetic, no UDF."""
    width = 64 // bands
    mask = (1 << width) - 1
    h = F.col(hash_col)
    return hashed.select(
        F.col(id_col), h,
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(h, b * width).bitwiseAND(
                    F.lit(mask)).alias("key"))
            for b in range(bands)
        ])).alias("bk"),
    ).select(id_col, hash_col, "bk.band", "bk.key")


def phash_dedup(
    df: DataFrame,
    max_hamming: int = 4,
    bands: int = 4,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    precomputed: bool = False,
) -> DataFrame:
    """Perceptual near-duplicate image pairs — the multimodal analogue
    of MinHash-banded text near-dup. The 64-bit dHash splits into
    ``bands`` equal bit-slices; images sharing ANY band value become
    candidates (bucket equi-join, never all-pairs — pigeonhole
    guarantees every pair with hamming < ``bands`` shares a band, so
    recall is EXACT for ``max_hamming < bands`` and probabilistic
    above), then candidates verify with one JVM ``bit_count(a ^ b)``.
    Returns ``(id_a, id_b, hamming)``, id_a < id_b.

    Scale shape: hashing is one payload scan (:func:`image_dhash`);
    banding/bucketing/verification are pure relational codegen over
    8-byte keys — a billion images shuffle 4 slim (band, key, id) rows
    each, and bucket skew (flat images all hashing to 0) caps via the
    same per-bucket budget argument as text LSH. Set
    ``precomputed=True`` when ``df`` already carries ``hash_col``
    (e.g. read back from the hash store)."""
    if max_hamming >= bands:
        import warnings

        warnings.warn(
            f"phash_dedup: recall is exact only for hamming < bands "
            f"(={bands}); pairs at hamming {bands}..{max_hamming} are "
            f"found only probabilistically", stacklevel=2)
    hashed = df if precomputed else image_dhash(df, out_col=hash_col)
    banded = media_band_rows(hashed, id_col=id_col, hash_col=hash_col,
                             bands=bands)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(right,
                  (F.col("l.band") == F.col("r.band"))
                  & (F.col("l.key") == F.col("r.key"))
                  & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .select(F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"),
                F.col(f"l.{hash_col}").alias("_ha"),
                F.col(f"r.{hash_col}").alias("_hb"))
        .distinct()
    )
    hamming = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    return (pairs.withColumn("hamming", hamming.cast("bigint"))
            .filter(F.col("hamming") <= max_hamming)
            .drop("_ha", "_hb"))


def audio_fingerprint(df: DataFrame, out_col: str = "afp",
                      segments: int = 8, bands: int = 8,
                      f_lo: float = 100.0, f_hi: float = 3000.0) -> DataFrame:
    """Per-clip 64-bit spectral fingerprint (the Haitsma–Kalker 2002
    sign-of-energy-delta shape): decode PCM WAV, mix to mono, split
    into ``segments`` equal TIME slices, measure energy in ``bands``
    log-spaced frequency bands between ``f_lo``–``f_hi`` Hz (rFFT
    magnitude), and set bit ``t*bands + b`` when band energy rises —
    segment 0 compares against the clip's per-band mean, segments 1+
    against the previous segment. Sign-of-delta bits are exactly
    invariant to amplitude scaling and approximately invariant to
    resampling (band edges are absolute Hz, slices absolute time), so
    the re-encoded / level-normalized copies a crawl collects hash
    together. Returns ``(media_id, afp bigint)``; non-audio /
    undecodable rows drop per the decode contract. Near-dup pairs come
    from the SAME banded machinery as images:
    ``phash_dedup(fp, hash_col='afp', precomputed=True)`` — the hash
    is the join key, the payload never shuffles."""
    from feldman_spark.pipeline import codecs

    if segments * bands != 64:
        raise ValueError(
            f"audio_fingerprint: segments*bands must be 64 "
            f"(got {segments}x{bands})")

    schema = StructType([
        StructField("media_id", LongType(), False),
        StructField(out_col, LongType(), False),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        edges = np.geomspace(f_lo, f_hi, bands + 1)
        for pdf in batches:
            ids, fps = [], []
            for mid, kind, d in zip(pdf["media_id"], pdf["kind"],
                                    pdf["data"]):
                if kind != "audio" or d is None:
                    continue
                try:
                    rate, ch, _dur, samples = codecs.decode_wav(bytes(d))
                except _DECODE_ERRORS:
                    continue
                mono = samples.astype(np.float64).mean(axis=1)
                n = mono.shape[0]
                if n < segments:
                    continue
                E = np.zeros((segments, bands))
                step = n // segments
                for t in range(segments):
                    seg = mono[t * step:(t + 1) * step]
                    spec = np.abs(np.fft.rfft(seg)) ** 2
                    freqs = np.fft.rfftfreq(seg.shape[0], 1.0 / rate)
                    for b in range(bands):
                        sel = (freqs >= edges[b]) & (freqs < edges[b + 1])
                        E[t, b] = spec[sel].sum()
                ref = np.vstack([E.mean(axis=0)[None, :], E[:-1]])
                bits = (E > ref).flatten()
                packed = int.from_bytes(np.packbits(bits).tobytes(), "big")
                if packed >= 1 << 63:
                    packed -= 1 << 64
                ids.append(int(mid))
                fps.append(packed)
            yield pd.DataFrame({"media_id": ids, out_col: fps})

    return df.mapInPandas(run, schema=schema)


def media_dedup_incremental(
    new_df: DataFrame,
    seen_bands: "DataFrame | None",
    id_col: str = "media_id",
    hash_col: str = "dhash",
    max_hamming: int = 3,
    bands: int = 4,
    precomputed: bool = False,
    broadcast_seen: bool = False,
):
    """Incremental perceptual near-dup for a GROWING media corpus — the
    multimodal mirror of :func:`feldman_spark.pipeline.dedup.
    minhash_dedup_incremental`: dedup the incoming batch within itself
    (banded pairs at ``max_hamming``, min-id survivor per connected
    component), then drop every batch item whose hash has a verified
    near-match in the historical store ``seen_bands`` (the
    :func:`media_band_rows` of all prior survivors). The re-crawl shape
    of a production media pipeline: every ingest run is idempotent
    against all prior runs (a re-ingested item collides with its own
    stored hash at hamming 0 and drops).

    Returns ``(kept, bands_delta)``: the surviving batch rows, and
    their band rows to append to the store.

    Unlike the text band store (band hashes only — history hits
    unverifiable by design), each store row carries the full 64-bit
    hash, so the history check is EXACT: a band-key collision is only a
    candidate, and ``bit_count(batch_hash XOR stored_hash)`` confirms
    or clears it. Recall against history inherits the pigeonhole bound
    (exact for ``max_hamming < bands``).

    Scale (billions of stored items): the store is ~30 B x ``bands``
    rows per item — payloads never enter it; the history join shuffles
    (band, key) slim rows only (or broadcasts the store with
    ``broadcast_seen=True`` when it fits); batch payloads are scanned
    once by the hasher and never move again. ``seen_bands=None`` is the
    bootstrap run. ``precomputed=True`` skips hashing when ``new_df``
    already carries ``hash_col`` (e.g. audio fingerprints via
    :func:`audio_fingerprint`)."""
    from feldman_spark.pipeline.graph import dedup_survivors

    hashed = (new_df.select(id_col, hash_col) if precomputed
              else image_dhash(new_df, out_col=hash_col))
    # ONE band stack serves all three consumers (within-batch pairs,
    # the history check, the returned store delta); tiny by
    # construction (bands rows x ~30 B per item)
    batch_bands = persist_scoped(media_band_rows(
        hashed, id_col=id_col, hash_col=hash_col, bands=bands))

    left = batch_bands.select(F.col(id_col).alias("id_a"),
                              F.col(hash_col).alias("_ha"), "band", "key")
    right = batch_bands.select(F.col(id_col).alias("id_b"),
                               F.col(hash_col).alias("_hb"), "band", "key")
    pairs = (
        left.join(right, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_ha", "_hb").distinct()
        .filter(F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
                <= max_hamming)
        .select("id_a", "id_b")
    )
    # undecodable payloads never hash, so they can neither pair nor hit
    # history — left in, they would be "kept" afresh on EVERY re-ingest,
    # breaking idempotency. They are excluded from kept (route them to a
    # quarantine path with an anti-join against kept ∪ store if needed).
    hashable = new_df.join(hashed.select(id_col), id_col, "left_semi")
    # the components loop is many TINY stages (a handful of near-dup
    # edges, several joins+counts per round): checkpoint the full-width
    # pair generation, then scope the loop to a few partitions — the
    # same treatment as minhash_dedup_incremental / dedup_clusters
    spark = new_df.sparkSession
    pairs = pairs.localCheckpoint()  # full-width banding runs here
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # label-propagation rounds execute EAGERLY inside this call
        # (per-round convergence counts); the returned anti-join itself
        # is lazy and runs at full width
        kept = dedup_survivors(hashable, pairs, id_col=id_col,
                               src_col="id_a", dst_col="id_b")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    if seen_bands is not None:
        s = seen_bands.select("band", "key",
                              F.col(hash_col).alias("_hseen"))
        if broadcast_seen:
            s = F.broadcast(s)
        hit_ids = (
            batch_bands.join(s, ["band", "key"])
            .filter(F.bit_count(F.col(hash_col).bitwiseXOR(F.col("_hseen")))
                    <= max_hamming)
            .select(id_col).distinct()
        )
        kept = kept.join(hit_ids, id_col, "left_anti")

    bands_delta = batch_bands.join(kept.select(id_col), id_col, "left_semi")
    return kept, bands_delta
