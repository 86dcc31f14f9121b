"""Multimodal column plumbing: image/audio/video as opaque `binary`
columns with typed metadata.

The Spark-side mechanics are real and tested — schema, partition-preserving
mapInPandas, Arrow batch shapes, metadata propagation.

Codec status (this container has no PIL/ffmpeg/torchaudio):
* REAL decoders, pure numpy/struct: uncompressed 24-bit BMP (`decode_bmp`
  -> pixel array, mean/std features, box-filter resize), PCM WAV
  (`decode_wav` -> waveform, RMS / zero-crossing / spectral-centroid
  features), and the raw-frame HBV1 video container (`decode_rawvideo`
  -> frame stack; per-frame aHash sampling + frame-hash video dedup).
  These exercise genuine byte-level decode inside the mapInPandas
  kernels.
* STUBBED: compressed formats (jpeg/png/mp4/...) fall back to
  `_fake_features` (seeded-stable from the payload digest) so pipelines
  stay testable end-to-end; `strict=True` raises NotImplementedError
  exactly where the compressed-codec library would plug in.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from henbun_spark.operators import dedup

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                    T.StructField("format", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)


def synthesize_media(spark, n: int = 64, kind: str = "image", seed: int = 0) -> DataFrame:
    """Deterministic media table with REAL payloads where a pure-numpy
    codec exists: images are genuine 24-bit BMPs, audio is genuine PCM16
    WAV, video is the raw HBV1 frame container (seeded content; adjacent
    frames are rolls of one base image, so temporal coherence is real).
    ``kind="blob"`` keeps an undecodable payload for exercising the
    strict-raise codec boundary."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        if kind == "image":
            pixels = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
            payload = encode_bmp(pixels)
            meta = (8, 8, None, None, "bmp")
        elif kind == "audio":
            t = np.arange(1600) / 16000.0
            freq = 100.0 + 10.0 * i
            payload = encode_wav(0.5 * np.sin(2 * np.pi * freq * t), 16000)
            meta = (None, None, 16000, 100, "wav")
        elif kind == "video":
            base = rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
            frames = np.stack(
                [np.roll(base, k, axis=1) for k in range(7)]
            )  # 7 frames @ 4 fps = 1500 ms
            payload = encode_rawvideo(frames, fps=4)
            meta = (8, 8, None, 1500, "hbv")
        else:
            payload = rng.bytes(256)
            meta = (None, None, None, 1500, "fake")
        rows.append((i, kind, bytearray(payload), meta))
    # size partitions to the data: a 64-row demo table sliced into
    # local[32]'s default 32 partitions pays 32 Python-worker handshakes
    # for ~2 rows each in the downstream mapInPandas (real media tables
    # read from parquet carry fat partitions already)
    n_parts = max(1, min(8, n // 8))
    return spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(n_parts)


# ---------------------------------------------------------------------------
# real codecs (pure numpy/struct — no external libraries)
# ---------------------------------------------------------------------------

def encode_bmp(pixels: np.ndarray) -> bytes:
    """Minimal uncompressed 24-bit BMP writer (BITMAPINFOHEADER). pixels:
    [h, w, 3] uint8 RGB."""
    import struct

    h, w, _ = pixels.shape
    row_size = (w * 3 + 3) & ~3  # rows pad to 4 bytes
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up
        bgr = pixels[y, :, ::-1].tobytes()
        rows.append(bgr + b"\x00" * (row_size - w * 3))
    return header + info + b"".join(rows)


def decode_bmp(payload: bytes) -> np.ndarray:
    """Decode an uncompressed 24-bit BMP to [h, w, 3] uint8 RGB."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size, w, h = struct.unpack_from("<Iii", payload, 14)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp})")
    bottom_up = h > 0
    h = abs(h)
    row_size = (w * 3 + 3) & ~3
    raw = np.frombuffer(payload, dtype=np.uint8, offset=data_offset,
                        count=row_size * h).reshape(h, row_size)
    pix = raw[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    return pix[::-1] if bottom_up else pix


def resize_box(pixels: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Integer box-filter downsample (real pixel resample, no PIL): mean
    over each target cell. Requires h % out_h == 0 and w % out_w == 0."""
    h, w, c = pixels.shape
    if h % out_h or w % out_w:
        raise ValueError(f"({h},{w}) not divisible by ({out_h},{out_w})")
    return (
        pixels.reshape(out_h, h // out_h, out_w, w // out_w, c)
        .mean(axis=(1, 3))
        .astype(np.float32)
    )


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Minimal PCM16 mono WAV writer. samples: float in [-1, 1]."""
    import struct

    pcm = (np.clip(samples, -1.0, 1.0) * 32767.0).astype("<i2").tobytes()
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, sample_rate,
                      sample_rate * 2, 2, 16)
    data = struct.pack("<4sI", b"data", len(pcm)) + pcm
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(data), b"WAVE")
    return riff + fmt + data


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode PCM16 mono WAV -> (float64 waveform in [-1,1], sample_rate)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos = 12
    sample_rate, bits, channels = None, None, None
    while pos + 8 <= len(payload):
        chunk, size = struct.unpack_from("<4sI", payload, pos)
        pos += 8
        if chunk == b"fmt ":
            fmt_tag, channels, sample_rate = struct.unpack_from("<HHI", payload, pos)
            bits = struct.unpack_from("<H", payload, pos + 14)[0]
            if fmt_tag != 1:
                raise ValueError("only PCM WAV supported")
        elif chunk == b"data":
            if bits != 16 or channels != 1:
                raise ValueError("only 16-bit mono supported")
            pcm = np.frombuffer(payload, dtype="<i2", offset=pos,
                                count=size // 2)
            return pcm.astype(np.float64) / 32767.0, int(sample_rate)
        pos += size + (size & 1)
    raise ValueError("no data chunk")


def encode_rawvideo(frames: np.ndarray, fps: int = 4) -> bytes:
    """Minimal raw-frame video container ('HBV1'): header (frame count,
    height, width, fps) + contiguous uint8 RGB frames. Uncompressed on
    purpose — the point is a REAL byte-level decode path (like the BMP/
    WAV codecs) without ffmpeg; a compressed codec plugs in at the same
    boundary. frames: [n, h, w, 3] uint8."""
    import struct

    n, h, w, c = frames.shape
    if c != 3 or frames.dtype != np.uint8:
        raise ValueError("frames must be [n, h, w, 3] uint8")
    return struct.pack("<4sIIII", b"HBV1", n, h, w, fps) + frames.tobytes()


def decode_rawvideo(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode an HBV1 container -> ([n, h, w, 3] uint8 frames, fps)."""
    import struct

    if payload[:4] != b"HBV1":
        raise ValueError("not an HBV1 payload")
    n, h, w, fps = struct.unpack_from("<IIII", payload, 4)
    frames = np.frombuffer(
        payload, dtype=np.uint8, offset=20, count=n * h * w * 3
    ).reshape(n, h, w, 3)
    return frames, int(fps)


def frame_ahash(pixels: np.ndarray, hash_size: int = 8) -> int:
    """Average-hash one frame (same recipe as `ahash_images`): box-resize
    to hash_size^2, grayscale, threshold at the mean -> 63-bit int."""
    h, w, _ = pixels.shape
    if h % hash_size or w % hash_size:
        raise ValueError("frame not divisible for box resize")
    small = resize_box(pixels, hash_size, hash_size)
    gray = small.astype(np.float64).mean(axis=2)
    bits = (gray > gray.mean()).ravel()
    val = 0
    for j, b in enumerate(bits):
        if b:
            val |= 1 << j
    return val & 0x7FFFFFFFFFFFFFFF


def audio_features(wave: np.ndarray, sample_rate: int, dim: int) -> np.ndarray:
    """Real waveform features: [duration, rms, zero-crossing rate,
    spectral centroid, band energies...] padded/truncated to dim."""
    n = len(wave)
    rms = float(np.sqrt(np.mean(wave**2))) if n else 0.0
    zcr = float(np.mean(np.abs(np.diff(np.signbit(wave))))) if n > 1 else 0.0
    spec = np.abs(np.fft.rfft(wave)) if n else np.zeros(1)
    freqs = np.fft.rfftfreq(max(n, 1), d=1.0 / sample_rate)
    centroid = float((freqs * spec).sum() / spec.sum()) if spec.sum() > 0 else 0.0
    n_bands = max(dim - 4, 1)
    bands = np.array_split(spec, n_bands)
    band_e = np.array([float(np.sqrt(np.mean(b**2))) if len(b) else 0.0 for b in bands])
    feats = np.concatenate([[n / sample_rate, rms, zcr, centroid], band_e])
    return feats[:dim].astype(np.float32)


def image_features(pixels: np.ndarray, dim: int) -> np.ndarray:
    """Real pixel features: per-channel mean/std + flattened 2x2 box
    downsample, padded/truncated to dim."""
    mean = pixels.mean(axis=(0, 1)) / 255.0
    std = pixels.std(axis=(0, 1)) / 255.0
    h, w, _ = pixels.shape
    small = resize_box(pixels, 2, 2).ravel() / 255.0 if (h % 2 == 0 and w % 2 == 0) else np.zeros(12)
    feats = np.concatenate([mean, std, small])
    out = np.zeros(dim, dtype=np.float32)
    out[: min(dim, feats.size)] = feats[:dim]
    return out


def _fake_features(payload: bytes, dim: int) -> np.ndarray:
    """Seeded-stable feature vector from the payload digest — the
    deterministic stand-in for a real decode+embed kernel."""
    digest = hashlib.sha256(payload).digest()
    seed = int.from_bytes(digest[:8], "little")
    return np.random.default_rng(seed).standard_normal(dim).astype(np.float32)


def decode_and_featurize(
    df: DataFrame, dim: int = 16, strict: bool = False
) -> DataFrame:
    """mapInPandas decode -> feature pipeline.

    REAL for bmp/wav payloads (byte-level decode + numpy features);
    compressed formats fall back to the seeded fake, or raise under
    `strict=True` where the codec library would plug in.
    """
    out_schema = (
        "media_id long, kind string, n_bytes int, feature array<float>"
    )

    def fn(batches):
        for pdf in batches:
            feats, nbytes = [], []
            for p, meta in zip(pdf["payload"], pdf["meta"]):
                b = bytes(p) if p is not None else b""
                fmt = (meta or {}).get("format")
                if fmt == "bmp":
                    feats.append(image_features(decode_bmp(b), dim))
                elif fmt == "wav":
                    wave, sr = decode_wav(b)
                    feats.append(audio_features(wave, sr, dim))
                elif fmt == "hbv":
                    frames, _fps = decode_rawvideo(b)
                    per_frame = np.stack(
                        [image_features(f, dim) for f in frames]
                    )
                    feats.append(per_frame.mean(axis=0).astype(np.float32))
                elif strict:
                    raise NotImplementedError(
                        f"no pure-python codec for format {fmt!r}; plug "
                        "PIL/ffmpeg here"
                    )
                else:
                    feats.append(_fake_features(b, dim))
                nbytes.append(len(b))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": nbytes,
                    "feature": [f.tolist() for f in feats],
                }
            )

    return df.mapInPandas(fn, schema=out_schema)


def frame_sample(df: DataFrame, every_ms: int = 500, strict: bool = False) -> DataFrame:
    """Video frame sampling with REAL decode for HBV1 payloads: one
    output row per sampled timestamp carrying the decoded frame's
    perceptual aHash and mean intensity. The frame index for offset t is
    floor(t * fps / 1000) clamped to the last frame. Non-decodable
    formats raise under ``strict`` (the ffmpeg plug-in point) else emit
    a payload-seeded fake hash so pipelines stay testable.

    Arrow-batched mapInPandas; only (media_id, frame_ms, frame_ahash,
    frame_mean) leaves the stage — payload bytes never shuffle.
    """
    import hashlib

    def fn(batches):
        for pdf in batches:
            mid, fms, fh, fm = [], [], [], []
            for media_id, payload, meta in zip(
                pdf["media_id"], pdf["payload"], pdf["meta"]
            ):
                b = bytes(payload) if payload is not None else b""
                dur = int((meta or {}).get("duration_ms") or 0)
                offsets = range(0, dur + 1, every_ms)
                if b[:4] == b"HBV1":
                    frames, fps = decode_rawvideo(b)
                    for t in offsets:
                        idx = min(t * fps // 1000, len(frames) - 1)
                        mid.append(media_id)
                        fms.append(t)
                        fh.append(frame_ahash(frames[idx]))
                        fm.append(float(frames[idx].mean()))
                elif strict:
                    raise NotImplementedError(
                        "no pure-python codec for this video payload; "
                        "plug ffmpeg here"
                    )
                else:
                    seed = hashlib.sha256(b).digest()
                    fake = int.from_bytes(seed[:8], "little") & 0x7FFFFFFFFFFFFFFF
                    for t in offsets:
                        mid.append(media_id)
                        fms.append(t)
                        fh.append(fake)
                        fm.append(0.0)
            yield pd.DataFrame(
                {
                    "media_id": mid,
                    "frame_ms": fms,
                    "frame_ahash": fh,
                    "frame_mean": fm,
                }
            )

    return (
        df.where(F.col("kind") == "video")
        .select("media_id", "payload", "meta")
        .mapInPandas(
            fn,
            "media_id long, frame_ms int, frame_ahash long, frame_mean double",
        )
    )


def video_dup_candidates(
    frames: DataFrame, min_shared: int = 2
) -> DataFrame:
    """Video near-duplicate candidates from sampled-frame perceptual
    hashes: videos sharing at least ``min_shared`` distinct frame hashes
    — an equi-join keyed on the hash (the inverted-index shape of
    `dedup.ngram_jaccard_pairs`, frames playing the role of n-grams),
    never an all-pairs comparison of videos."""
    f = frames.select("media_id", "frame_ahash").distinct()
    a, b = f.alias("a"), f.alias("b")
    return (
        a.join(b, on="frame_ahash")
        .where(F.col("a.media_id") < F.col("b.media_id"))
        .groupBy(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_frames"))
        .where(F.col("shared_frames") >= min_shared)
    )


def resize_meta(df: DataFrame, width: int, height: int) -> DataFrame:
    """Metadata-level resize (aspect bookkeeping is Column math; pixel
    resample is codec territory -> stub)."""
    return df.withColumn(
        "meta",
        F.struct(
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.col("meta.sample_rate").alias("sample_rate"),
            F.col("meta.duration_ms").alias("duration_ms"),
            F.col("meta.format").alias("format"),
        ),
    )


def _hash_images(
    df: DataFrame, out_col: str, bits_fn, strict: bool, fallback_tag: bytes
) -> DataFrame:
    """Shared image-fingerprint scaffold for aHash/pHash: Arrow-batched
    mapInPandas, BMP decode, strict/sha-fallback contract, 64-bit
    packing with the int64 sign bit cleared. `bits_fn(pixels)` returns
    the boolean bit array; only (media_id, <out_col>) leaves the scan."""
    import hashlib

    import pandas as pd

    def fn(batches):
        for pdf in batches:
            hashes = []
            for payload in pdf["payload"]:
                data = bytes(payload)
                try:
                    bits = bits_fn(decode_bmp(data))
                except ValueError:
                    if strict:
                        raise
                    seed = hashlib.sha256(fallback_tag + data).digest()
                    bits = np.unpackbits(
                        np.frombuffer(seed[:8], np.uint8)
                    ).astype(bool)
                val = 0
                for j, b in enumerate(np.ravel(bits)[:64]):
                    if b:
                        val |= 1 << j
                # keep within int64 (clear the sign bit)
                hashes.append(val & 0x7FFFFFFFFFFFFFFF)
            yield pd.DataFrame({"media_id": pdf["media_id"], out_col: hashes})

    return df.select("media_id", "payload").mapInPandas(
        fn, f"media_id long, {out_col} long"
    )


def ahash_images(df: DataFrame, hash_size: int = 8, strict: bool = True) -> DataFrame:
    """Perceptual image fingerprint (average hash): decode BMP -> box-
    resize to hash_size x hash_size -> grayscale -> threshold at the mean
    -> 64-bit fingerprint. Near-identical images (small noise, re-
    encodes) land within a few Hamming bits; pair them with
    `hamming_near_pairs` banding on the `ahash` column.

    Arrow-batched mapInPandas (decode cannot be Column math); emits only
    (media_id, ahash) so the binary payload never leaves the scan stage.
    Non-BMP rows raise when strict else hash the raw bytes' sha-seeded
    fake (plumbing-only path, same contract as decode_and_featurize).
    """

    def bits_fn(pix):
        h, w, _ = pix.shape
        if h % hash_size or w % hash_size:
            raise ValueError("not divisible for box resize")
        small = resize_box(pix, hash_size, hash_size)
        gray = small.astype(np.float64).mean(axis=2)
        return (gray > gray.mean()).ravel()

    return _hash_images(df, "ahash", bits_fn, strict, b"")


def hamming_near_pairs(
    df: DataFrame, bits: int = 63, max_hamming: int = 3, hash_col: str = "ahash"
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) by Hamming distance over any
    64-bit fingerprint column (aHash, pHash, audio fp): the pigeonhole
    band join `dedup.hamming_band_pairs` of `dedup.simhash_near_pairs`
    (any pair within distance k agrees on one of k+1 blocks), never an
    all-pairs comparison.

    Output: one row per distinct (media_id, hash) row pair, so the
    n-row input is deduplicated before banding (a repeated row would
    otherwise pair twice); the candidate pairs are unique map-side and
    never shuffle again.

    Scale caveat: block width is bits // (max_hamming + 1); a large
    max_hamming shrinks blocks (max_hamming=10 -> 5-bit blocks, 32
    buckets per band), so band selectivity — and with it candidate
    pruning — degrades. Recall stays guaranteed by pigeonhole, but for
    loose thresholds at corpus scale prefer a longer fingerprint or a
    two-stage (tight-band candidates, then verify at the loose
    threshold) pipeline."""
    band = ("media_id", hash_col, bits, max_hamming)
    bands = dedup.hamming_band_blocks(df.select("media_id", hash_col).distinct(), *band)
    pairs = dedup.hamming_band_pairs(bands, bands, *band)
    return pairs.where(F.col("id_a") < F.col("id_b"))


def audio_fingerprint(df: DataFrame, n_bands: int = 32, strict: bool = True) -> DataFrame:
    """Perceptual audio fingerprint (chromaprint-style idea reduced to
    one frame): decode WAV -> magnitude spectrum -> `n_bands` log-spaced
    band energies -> sign-of-derivative bits (band[i] > band[i-1]) ->
    integer fingerprint. Pitch/level shifts that preserve the spectral
    envelope shape keep most bits; pair with `hamming_near_pairs` (both
    emit a plain integer hash column).

    Arrow-batched mapInPandas; only (media_id, afp) leaves the stage.
    """
    import hashlib

    import pandas as pd

    def fn(batches):
        for pdf in batches:
            out = []
            for payload in pdf["payload"]:
                data = bytes(payload)
                try:
                    wave, sr = decode_wav(data)
                    spec = np.abs(np.fft.rfft(wave))
                    # log-spaced band edges over [1, len(spec))
                    edges = np.unique(
                        np.geomspace(1, len(spec) - 1, n_bands + 1).astype(int)
                    )
                    power = np.array(
                        [
                            float(np.sum(spec[a:b] ** 2)) if b > a else 0.0
                            for a, b in zip(edges[:-1], edges[1:])
                        ]
                    )
                    # bits = cumulative-energy curve vs the uniform
                    # diagonal: robust to level shifts and additive noise
                    # (the envelope's mass location dominates), and the
                    # Hamming distance grows with spectral shift
                    frac = np.cumsum(power) / max(power.sum(), 1e-30)
                    k = len(frac)
                    bits = [
                        1 if frac[i] >= (i + 1.0) / k else 0 for i in range(k - 1)
                    ]
                except ValueError:
                    if strict:
                        raise
                    seed = hashlib.sha256(data).digest()
                    bits = [(seed[i // 8] >> (i % 8)) & 1 for i in range(n_bands - 1)]
                val = 0
                for j, b in enumerate(bits):
                    if b:
                        val |= 1 << j
                out.append(val & 0x7FFFFFFFFFFFFFFF)
            yield pd.DataFrame({"media_id": pdf["media_id"], "afp": out})

    return df.select("media_id", "payload").mapInPandas(
        fn, "media_id long, afp long"
    )


_DCT_BASIS_CACHE: dict = {}


def _dct2_8x8_lowfreq(gray: np.ndarray) -> np.ndarray:
    """Top-left 8x8 (low-frequency) block of the 2-D DCT-II of a square
    grayscale image — pure numpy (no scipy in this runtime): DCT-II via
    the orthonormal cosine basis matrix, C @ X @ C.T. The basis is
    cached per size (every image in a batch resizes to the same n)."""
    n = gray.shape[0]
    basis = _DCT_BASIS_CACHE.get(n)
    if basis is None:
        k = np.arange(n)
        basis = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
        basis[0] *= 1.0 / np.sqrt(2.0)
        basis *= np.sqrt(2.0 / n)
        _DCT_BASIS_CACHE[n] = basis
    coeffs = basis @ gray @ basis.T
    return coeffs[:8, :8]


def phash_images(df: DataFrame, img_size: int = 32, strict: bool = True) -> DataFrame:
    """Perceptual DCT hash (pHash): decode BMP -> box-resize to
    img_size x img_size -> grayscale -> 2-D DCT -> keep the 8x8
    low-frequency block -> threshold at the MEDIAN of the 63 non-DC
    coefficients -> 64-bit fingerprint. vs `ahash_images`: the DC
    term is excluded and the median threshold absorbs affine level
    changes (up to uint8 rounding), so re-levelled re-encodes land
    within a few Hamming bits. The two hashes have DIFFERENT failure
    modes (aHash is knife-edge near its mean; pHash needs low-frequency
    content), which is why image-dedup pipelines carry both. Same scale shape as `ahash_images` (shared scaffold);
    pair with `hamming_near_pairs(hash_col="phash")`."""

    def bits_fn(pix):
        h, w, _ = pix.shape
        if h % img_size or w % img_size:
            raise ValueError("not divisible for box resize")
        small = resize_box(pix, img_size, img_size)
        gray = small.astype(np.float64).mean(axis=2)
        block = _dct2_8x8_lowfreq(gray)
        flat = block.ravel()
        ac = np.delete(flat, 0)  # drop DC (overall brightness)
        bits = flat > np.median(ac)
        bits[0] = False  # DC never contributes
        return bits

    return _hash_images(df, "phash", bits_fn, strict, b"p")
