"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real — schema conventions, Arrow-batched
``mapInPandas`` decode stages, partitioning guidance.  Decode comes in two
tiers: :func:`decode_media` runs REAL decoders where a library (or the
stdlib) provides one — PIL for images behind an import guard, the stdlib
``wave`` module for WAV audio (always available) — and falls back to the
deterministic byte-histogram stub otherwise, reporting which path ran in
a ``decoder`` column.  :func:`decode_stub_features` is the pure-stub
stage kept for schema-stable pipelines and the cross-engine oracle
(real decodes are not SQL-reproducible).

Scale notes: binary payloads dominate row size — keep them out of shuffles
(decode early, project the bytes away; or store media in object storage and
carry only references + metadata).  ``maxPartitionBytes`` should be sized so
a batch of decoded frames fits executor memory.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import _fan_out, _hamming_join, hamming_pairs

# Canonical multimodal row: opaque bytes + typed metadata.
MULTIMODAL_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("modality", T.StringType(), False),   # image|audio|video
    T.StructField("mime", T.StringType(), True),
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("modality", T.StringType(), False),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
])


def attach_binary_meta(df: DataFrame, bytes_col: str, id_col: str,
                       modality: str = "image", mime: str = "application/octet-stream") -> DataFrame:
    """Lift (id, binary) columns into the canonical multimodal schema."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(modality).alias("modality"),
        F.lit(mime).alias("mime"),
        F.col(bytes_col).cast("binary").alias("payload"),
        F.create_map(F.lit("n_bytes"),
                     F.length(F.col(bytes_col).cast("binary")).cast("string")).alias("meta"),
    )


def _stub_decode(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic fake feature vector from raw bytes.

    REAL DECODER GOES HERE: e.g. PIL.Image.open(io.BytesIO(payload)) ->
    resize -> pixel stats; torchaudio.load -> spectrogram.  Not available in
    this container, so features are byte-histogram moments — deterministic,
    schema-identical to a real embedding."""
    if payload is None:
        return [0.0] * dim
    buckets = [0] * dim
    for i, b in enumerate(payload[:4096]):
        buckets[b % dim] += 1
    total = max(1, sum(buckets))
    return [round(c / total, 6) for c in buckets]


DECODERS: dict[str, Callable[[bytes], list[float]]] = {
    "image": _stub_decode,   # swap: PIL decode + resize + channel stats
    "audio": _stub_decode,   # swap: torchaudio load + mel-spec pooling
    "video": _stub_decode,   # swap: decord frame-sample + per-frame image path
}


def decode_stub_features(df: DataFrame, batch_hint: int = 256) -> DataFrame:
    """Arrow-batched decode stage: multimodal rows -> per-media features.

    Real pipelines replace ``DECODERS[modality]``; the Spark plumbing —
    schema, batching, the project-away of ``payload`` right after decode —
    is exactly what production would run."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                DECODERS.get(m, _stub_decode)(p)
                for m, p in zip(pdf["modality"], pdf["payload"])
            ]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "modality": pdf["modality"],
                "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                "feature": feats,
            })

    return df.mapInPandas(_decode, schema=FEATURE_SCHEMA)


# ---------------------------------------------------------------- real decode

try:                                                   # optional dependency
    from PIL import Image as _PILImage
    _HAS_PIL = True
except ImportError:                                    # pragma: no cover
    _PILImage = None
    _HAS_PIL = False

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("modality", T.StringType(), False),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("decoder", T.StringType(), False),   # pil|wav|stub
    T.StructField("width", T.IntegerType(), True),     # image
    T.StructField("height", T.IntegerType(), True),    # image
    T.StructField("duration_ms", T.LongType(), True),  # audio
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("channels", T.IntegerType(), True),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
])

_NULL_META = {"width": None, "height": None, "duration_ms": None,
              "sample_rate": None, "channels": None}


def _decode_image_real(payload: bytes, dim: int):
    """PIL decode: true width/height + a dim-bucket grayscale histogram
    feature (resize to 32x32 first so cost is O(1) per image)."""
    import io
    img = _PILImage.open(io.BytesIO(payload))
    width, height = img.size
    small = img.convert("L").resize((32, 32))
    buckets = [0] * dim
    for px in small.getdata():
        buckets[int(px) * dim // 256] += 1
    total = max(1, sum(buckets))
    feature = [round(c / total, 6) for c in buckets]
    return dict(_NULL_META, width=width, height=height), feature, "pil"


def _decode_wav_real(payload: bytes, dim: int):
    """Stdlib ``wave`` decode (no optional dependency needed): exact
    duration/sample-rate/channels plus a dim-window RMS envelope feature
    over the PCM frames — a real, deterministic audio decode."""
    import io
    import wave

    import numpy as np
    with wave.open(io.BytesIO(payload), "rb") as w:
        rate = w.getframerate()
        channels = w.getnchannels()
        n_frames = w.getnframes()
        sampwidth = w.getsampwidth()
        raw = w.readframes(n_frames)
    duration_ms = int(n_frames * 1000 / rate) if rate else 0
    if sampwidth == 1:
        # WAV stores 8-bit PCM as UNSIGNED bytes (0-255, silence at
        # 128), unlike the signed wider widths — recenter before scaling
        samples = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
                   - 128.0)
        scale = 128.0
    elif sampwidth in (2, 4):
        dtype = {2: np.int16, 4: np.int32}[sampwidth]
        samples = np.frombuffer(raw, dtype=dtype).astype(np.float64)
        scale = float(2 ** (8 * sampwidth - 1))
    else:                                              # e.g. 24-bit PCM
        samples = np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
        scale = 255.0
    feature = []
    if samples.size:
        windows = np.array_split(samples, dim)
        feature = [round(float(np.sqrt(np.mean(w * w))) / scale, 6)
                   if w.size else 0.0 for w in windows]
    else:
        feature = [0.0] * dim
    return (dict(_NULL_META, duration_ms=duration_ms, sample_rate=rate,
                 channels=channels), feature, "wav")


def _decode_one(modality: str, payload: bytes, dim: int):
    """Best real decoder for the payload, stub fallback — NEVER raises:
    a corrupt payload in a 100 TB batch must not kill the stage."""
    if payload:
        try:
            if modality == "image" and _HAS_PIL:
                return _decode_image_real(payload, dim)
            if modality == "audio" and payload[:4] == b"RIFF":
                return _decode_wav_real(payload, dim)
        except Exception:
            pass                                       # fall through to stub
    return dict(_NULL_META), _stub_decode(payload, dim), "stub"


def decode_media(df: DataFrame, dim: int = 8) -> DataFrame:
    """Real-decode stage: multimodal rows -> true media metadata +
    features where a decoder exists (PIL images behind the import guard,
    WAV audio via the stdlib), deterministic stub features otherwise —
    the ``decoder`` column records which path each row took.

    Same Arrow ``mapInPandas`` shape as :func:`decode_stub_features`:
    payload bytes are projected away inside the stage, so decoded rows
    never carry media bytes into a shuffle."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("media_id", "modality", "n_bytes",
                                    "decoder", "width", "height",
                                    "duration_ms", "sample_rate",
                                    "channels", "feature")}
            for mid, mod, payload in zip(pdf["media_id"], pdf["modality"],
                                         pdf["payload"]):
                payload = bytes(payload) if payload is not None else None
                meta, feature, dec = _decode_one(mod, payload, dim)
                rows["media_id"].append(mid)
                rows["modality"].append(mod)
                rows["n_bytes"].append(len(payload) if payload else 0)
                rows["decoder"].append(dec)
                for k, v in meta.items():
                    rows[k].append(v)
                rows["feature"].append(feature)
            yield pd.DataFrame(rows)

    return df.mapInPandas(_decode, schema=MEDIA_SCHEMA)


FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("ts_ms", T.LongType(), False),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
])


def frame_sample(df: DataFrame, n_frames: int = 4, frame_interval_ms: int = 1000,
                 dim: int = 8) -> DataFrame:
    """Video frame sampling: one OUTPUT ROW PER SAMPLED FRAME — the
    row-exploding decode stage (vs :func:`decode_stub_features`' 1:1 map).

    REAL DECODER GOES HERE: decord/ffmpeg seek to each timestamp and
    decode + resize one frame.  Stubbed in this container by slicing the
    payload into ``n_frames`` byte windows and featurizing each with the
    byte-histogram stub, so row counts, batch shapes and schema are
    exactly what a real decoder produces.

    Scale notes: the fan-out happens INSIDE the Arrow batch and the
    ``payload`` bytes are projected away in the same stage — frames never
    carry source bytes into a shuffle; with B-byte videos and f frames the
    stage's output is f·dim floats per row, not f·B bytes."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "ts_ms": [],
                   "n_bytes": [], "feature": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                nb = len(payload) if payload is not None else 0
                step = max(1, nb // n_frames)
                for i in range(n_frames):
                    window = (payload[i * step:(i + 1) * step]
                              if payload is not None else None)
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["ts_ms"].append(i * frame_interval_ms)
                    out["n_bytes"].append(nb)
                    out["feature"].append(_stub_decode(window, dim))
            yield pd.DataFrame(out)

    return df.mapInPandas(_sample, schema=FRAME_SCHEMA)


# ------------------------------------------------------- perceptual image dedup

DHASH_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("dhash", T.LongType(), False),
    T.StructField("decoder", T.StringType(), False),   # pil|raw|stub
])


def image_dhash(df: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual difference-hash per image: ``(media_id, dhash, decoder)``.

    The classic dHash (Krawetz): decode -> grayscale -> resize to
    ``(grid+1) x grid`` -> compare each pixel to its right neighbour ->
    ``grid*grid``-bit signature (bit ``r*grid+c`` set iff
    ``px[r][c] < px[r][c+1]``), packed into a signed 64-bit long for
    ``grid=8`` (two's-complement, so bit 63 rides in the sign).

    Decode tiers, like :func:`decode_media` (never raises — a corrupt
    payload in a 100 TB batch must not kill the stage):

    1. ``pil`` — PIL behind the import guard: real image formats.
    2. ``raw`` — a payload of exactly ``grid*(grid+1)`` bytes is decoded
       as a raw row-major 8-bit grayscale raster (a real miniature
       format, and the cross-engine oracle's spelling: byte arithmetic
       any engine reproduces bit-for-bit).
    3. ``stub`` — deterministic stride-resample of the payload bytes to
       the raster size, so schema and batch shape survive any input.

    One Arrow pass; payload bytes are projected away inside the stage so
    hashes — 8 bytes a row — are all that ever reaches a shuffle.  The
    input fans out to the session's parallelism first (when under-split):
    decode is the CPU stage, and a single-file local read would
    otherwise run it on one core."""
    if not (1 <= grid * grid <= 64):
        raise ValueError("grid*grid must fit a 64-bit hash")
    df = _fan_out(df)

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes, decs = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                v, dec = dhash_bytes(
                    bytes(payload) if payload is not None else None, grid)
                ids.append(mid)
                hashes.append(v)
                decs.append(dec)
            yield pd.DataFrame({"media_id": ids, "dhash": hashes,
                                "decoder": decs})

    return df.mapInPandas(_hash, schema=DHASH_SCHEMA)


def _raster_px(payload: bytes | None, grid: int):
    """Shared decode-to-raster core of the dHash family: payload ->
    (``grid*(grid+1)`` row-major grayscale pixels, decoder tier)."""
    n_cells = grid * (grid + 1)
    if payload is not None and _HAS_PIL:
        try:
            import io
            img = _PILImage.open(io.BytesIO(bytes(payload)))
            small = img.convert("L").resize((grid + 1, grid))
            return list(small.getdata()), "pil"
        except Exception:
            pass
    if payload is not None and len(payload) == n_cells:
        return list(payload), "raw"
    if payload:
        L = len(payload)
        return [payload[(i * L) // n_cells] for i in range(n_cells)], "stub"
    return [0] * n_cells, "stub"


def dhash_bytes(payload: bytes | None, grid: int = 8):
    """One payload -> (signed-64-bit dHash, decoder tier).  The single
    spelling of the hash shared by the batch operators and the streaming
    twin, so their signatures can never drift apart."""
    px, dec = _raster_px(payload, grid)
    v = 0
    for r in range(grid):
        base = r * (grid + 1)
        for c in range(grid):
            if px[base + c] < px[base + c + 1]:
                v |= 1 << (r * grid + c)
    if v >= 1 << 63:
        v -= 1 << 64
    return v, dec


def image_dups(df: DataFrame, max_hamming: int = 4, grid: int = 8,
               bands: int = 8, band_rows: int = 1) -> DataFrame:
    """Perceptual near-duplicate image pairs: ``(id_a, id_b, hamming)``
    for every pair whose dHash Hamming distance is <= ``max_hamming`` —
    the image analogue of ``simhash_md5_pairs``; banding contract and
    exactness guarantee in :func:`hamming_pairs`.  One Arrow hash pass
    (payload bytes projected away in-stage) feeds the shared banded
    join.  Pass ``band_rows=2`` beyond ~10k images (see
    :func:`hamming_pairs` on key cardinality — the result set is
    identical, only the candidate pruning changes)."""
    h = image_dhash(df, grid=grid)
    return hamming_pairs(h, "dhash", max_hamming=max_hamming, bands=bands,
                         nbits=grid * grid, band_rows=band_rows)


AHASH_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("ahash", T.LongType(), False),
    T.StructField("decoder", T.StringType(), False),   # wav|rawpcm|stub
])

_N_WINDOWS = 65      # 65 window means -> 64 adjacent comparisons -> 64 bits


def audio_envelope_hash(df: DataFrame) -> DataFrame:
    """Perceptual audio signature per clip: ``(media_id, ahash, decoder)``.

    The audio dHash: decode to 8-bit-unsigned mono samples, split into 65
    equal index windows (sample ``i`` of ``n`` lands in window
    ``i * 65 // n`` — the standard integer partitioning, identical in any
    engine), take each window's INTEGER mean amplitude (``sum div
    count``), and compare each window mean to its right neighbour —
    a 64-bit envelope-shape signature packed exactly like the image
    dHash (two's complement, bit 63 in the sign).  Loudness-invariant
    enough for near-dup detection, exact-integer so any engine
    reproduces it.

    Decode tiers (never raises — corrupt payloads must not kill a
    100 TB stage):

    1. ``wav`` — RIFF payloads through the stdlib ``wave`` module:
       8-bit unsigned used as-is, 16/32-bit recentred to 0..255 via
       ``(s + 2^(w-1)) >> (8w - 8)``; multi-channel frames stay
       interleaved in file order (deterministic, and the envelope is
       channel-agnostic at this granularity).
    2. ``rawpcm`` — any other non-empty payload is decoded as raw 8-bit
       unsigned PCM, one byte per sample (a real miniature format, and
       the cross-engine oracle's spelling).
    3. ``stub`` — empty/NULL payloads hash to 0.

    One Arrow pass; payloads are projected away inside the stage."""

    df = _fan_out(df)

    def _samples(payload):
        if payload and payload[:4] == b"RIFF":
            try:
                import io
                import wave

                import numpy as np
                with wave.open(io.BytesIO(payload), "rb") as w:
                    sw = w.getsampwidth()
                    raw = w.readframes(w.getnframes())
                if sw == 1:
                    return list(raw), "wav"
                if sw in (2, 4):
                    dtype = {2: "<i2", 4: "<i4"}[sw]
                    arr = np.frombuffer(raw, dtype=dtype).astype(np.int64)
                    return list((arr + (1 << (8 * sw - 1)))
                                >> (8 * sw - 8)), "wav"
            except Exception:
                pass
        if payload:
            return list(payload), "rawpcm"
        return None, "stub"

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes, decs = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                s, dec = _samples(bytes(payload)
                                  if payload is not None else None)
                v = 0
                if s and len(s) >= _N_WINDOWS:
                    n = len(s)
                    sums = [0] * _N_WINDOWS
                    cnts = [0] * _N_WINDOWS
                    for i, x in enumerate(s):
                        w = i * _N_WINDOWS // n
                        sums[w] += int(x)
                        cnts[w] += 1
                    means = [sums[w] // cnts[w] for w in range(_N_WINDOWS)]
                    for b in range(_N_WINDOWS - 1):
                        if means[b] < means[b + 1]:
                            v |= 1 << b
                    if v >= 1 << 63:
                        v -= 1 << 64
                ids.append(mid)
                hashes.append(v)
                decs.append(dec)
            yield pd.DataFrame({"media_id": ids, "ahash": hashes,
                                "decoder": decs})

    return df.mapInPandas(_hash, schema=AHASH_SCHEMA)


def audio_dups(df: DataFrame, max_hamming: int = 4,
               bands: int = 8, band_rows: int = 1) -> DataFrame:
    """Perceptual near-duplicate audio pairs: ``(id_a, id_b, hamming)``
    over the 64-bit envelope hash — the audio analogue of
    :func:`image_dups`, sharing :func:`hamming_pairs`' banding contract
    and pigeonhole exactness guarantee (``band_rows=2`` beyond ~10k
    clips, identical result set)."""
    h = audio_envelope_hash(df)
    return hamming_pairs(h, "ahash", max_hamming=max_hamming, bands=bands,
                         band_rows=band_rows)


VFRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("dhash", T.LongType(), False),
    T.StructField("decoder", T.StringType(), False),   # raw|stub
])


def video_frame_hashes(df: DataFrame, grid: int = 8,
                       stub_frames: int = 4) -> DataFrame:
    """Per-frame perceptual hashes for video payloads:
    ``(media_id, frame_idx, dhash, decoder)``.

    Decode tiers (never raises):

    1. ``raw`` — a payload whose length is a positive multiple of the
       raster size ``grid*(grid+1)`` decodes as consecutive raw
       grayscale frames (the miniature format of :func:`image_dhash`'s
       raw tier, one raster per frame — and the cross-engine oracle's
       spelling).  A real deployment swaps this tier for
       decord/ffmpeg frame sampling; the fan-out, per-frame hashing,
       and downstream join shapes are identical.
    2. ``stub`` — any other non-empty payload stride-samples into
       ``stub_frames`` byte windows, each hashed like the image stub.

    Same dHash bit layout as :func:`image_dhash`; payloads are
    projected away inside the Arrow stage, so what shuffles is 12 bytes
    per frame."""
    n_cells = grid * (grid + 1)
    df = _fan_out(df)

    def _pack(px):
        v = 0
        for r in range(grid):
            base = r * (grid + 1)
            for c in range(grid):
                if px[base + c] < px[base + c + 1]:
                    v |= 1 << (r * grid + c)
        return v - (1 << 64) if v >= 1 << 63 else v

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fidx, hashes, decs = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                p = bytes(payload) if payload is not None else b""
                if p and len(p) % n_cells == 0:
                    frames = [list(p[k * n_cells:(k + 1) * n_cells])
                              for k in range(len(p) // n_cells)]
                    dec = "raw"
                elif p:
                    L = len(p)
                    frames = []
                    for k in range(stub_frames):
                        lo, hi = k * L // stub_frames, (k + 1) * L // stub_frames
                        wlen = hi - lo
                        frames.append(
                            [p[lo + (i * wlen) // n_cells] if wlen else 0
                             for i in range(n_cells)])
                    dec = "stub"
                else:
                    frames = [[0] * n_cells]
                    dec = "stub"
                for k, px in enumerate(frames):
                    ids.append(mid)
                    fidx.append(k)
                    hashes.append(_pack(px))
                    decs.append(dec)
            yield pd.DataFrame({"media_id": ids, "frame_idx": fidx,
                                "dhash": hashes, "decoder": decs})

    return df.mapInPandas(_hash, schema=VFRAME_SCHEMA)


def video_dups(df: DataFrame, max_hamming: int = 4, min_frames: int = 2,
               grid: int = 8, bands: int = 8,
               band_rows: int = 1) -> DataFrame:
    """Frame-aligned perceptual video near-dup pairs:
    ``(id_a, id_b, n_close_frames)`` for every pair of videos with at
    least ``min_frames`` aligned frames (same frame index) whose dHashes
    sit within ``max_hamming`` — re-encodes and watermark overlays move
    individual frame hashes a few bits, identical footage keeps most
    frames close.

    EXACT like the rest of the family: a qualifying pair has >= 1 close
    aligned frame, that frame pair shares a clean band combo
    (:func:`hamming_pairs`' pigeonhole argument).  Round 14: the band
    join runs over DISTINCT ``(frame_idx, dhash)`` VALUES (the
    :func:`hamming_pairs` value-collapse — sf0.1: 20k frame rows ->
    1308 distinct values, and the old row-level join degenerated to
    125M candidate rows / every video pair on this hash-dense corpus),
    close value pairs are verified by xor+popcount at VALUE
    cardinality, and the id expansion emits exactly the close aligned
    frame pairs — output-bound (each (video, frame) has one value, so
    a (pair, frame) row appears at most once and counting rows IS
    n_close_frames; far frames contributed 0 to the old sum anyway)."""
    fh = video_frame_hashes(df, grid=grid)
    return (_hamming_join(fh, "dhash", "media_id", ["frame_idx"],
                          max_hamming, bands, grid * grid, band_rows)
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_close_frames"))
            .filter(F.col("n_close_frames") >= min_frames))


# ------------------------------------------------------------------- resize

RESIZE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("modality", T.StringType(), False),
    T.StructField("decoder", T.StringType(), False),   # pil|raw|stub
    T.StructField("in_width", T.IntegerType(), True),
    T.StructField("in_height", T.IntegerType(), True),
    T.StructField("out_width", T.IntegerType(), False),
    T.StructField("out_height", T.IntegerType(), False),
    T.StructField("n_bytes_in", T.LongType(), False),
    T.StructField("n_bytes_out", T.LongType(), False),
    T.StructField("payload", T.BinaryType(), True),    # the resized image
])


def resize_images(df: DataFrame, out_width: int, out_height: int,
                  raw_width: int | None = None,
                  raw_height: int | None = None) -> DataFrame:
    """Batch image resize: multimodal rows -> ``out_width x out_height``
    images re-emitted as a fresh ``payload`` binary column (the one
    multimodal transform whose OUTPUT is bytes, unlike the decode /
    hash / frame-sample stages which project payloads away).

    Decode tiers, like :func:`decode_media` (never raises — a corrupt
    payload in a 100 TB batch must not kill the stage):

    1. ``pil`` — PIL behind the import guard: real formats, bilinear
       resize, re-encoded as PNG.
    2. ``raw`` — when ``raw_width``/``raw_height`` are given and the
       payload is exactly ``raw_width * raw_height`` bytes, it is a raw
       row-major 8-bit grayscale raster; nearest-neighbour resample with
       the floor index map ``src = (dst * in_dim) // out_dim`` — pure
       integer arithmetic any engine reproduces byte-for-byte (the
       cross-engine oracle's spelling).
    3. ``stub`` — deterministic stride-resample of whatever bytes are
       present to ``out_width * out_height``, so schema and batch shape
       survive any input.

    Scale notes: one Arrow ``mapInPandas`` pass, no shuffle; the output
    rows carry ``out_width * out_height`` bytes (+ PNG overhead on the
    pil tier) regardless of input size, so a downscale pass SHRINKS the
    bytes that reach any downstream exchange.  Input splits are already
    byte-ranged by the source; no fan-out needed — resize is bandwidth-
    bound, not CPU-bound like the hash stages."""
    if out_width < 1 or out_height < 1:
        raise ValueError("output dimensions must be positive")
    n_out = out_width * out_height
    n_raw = (raw_width * raw_height
             if raw_width is not None and raw_height is not None else None)

    def _resize_one(payload):
        """-> (decoder, in_w, in_h, out_bytes)"""
        import numpy as np
        if payload and _HAS_PIL:
            try:
                import io
                img = _PILImage.open(io.BytesIO(payload))
                in_w, in_h = img.size
                small = img.convert("L").resize(
                    (out_width, out_height), _PILImage.BILINEAR)
                buf = io.BytesIO()
                small.save(buf, format="PNG")
                return "pil", in_w, in_h, buf.getvalue()
            except Exception:
                pass
        if payload is not None and n_raw is not None and len(payload) == n_raw:
            px = np.frombuffer(payload, dtype=np.uint8).reshape(
                raw_height, raw_width)
            rows = (np.arange(out_height) * raw_height) // out_height
            cols = (np.arange(out_width) * raw_width) // out_width
            return ("raw", raw_width, raw_height,
                    px[np.ix_(rows, cols)].tobytes())
        if payload:
            L = len(payload)
            idx = (np.arange(n_out) * L) // n_out
            return ("stub", None, None,
                    np.frombuffer(payload, dtype=np.uint8)[idx].tobytes())
        return "stub", None, None, bytes(n_out)

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("media_id", "modality", "decoder",
                                   "in_width", "in_height", "out_width",
                                   "out_height", "n_bytes_in",
                                   "n_bytes_out", "payload")}
            for mid, mod, payload in zip(pdf["media_id"], pdf["modality"],
                                         pdf["payload"]):
                payload = bytes(payload) if payload is not None else None
                dec, in_w, in_h, data = _resize_one(payload)
                out["media_id"].append(mid)
                out["modality"].append(mod)
                out["decoder"].append(dec)
                out["in_width"].append(in_w)
                out["in_height"].append(in_h)
                out["out_width"].append(out_width)
                out["out_height"].append(out_height)
                out["n_bytes_in"].append(len(payload) if payload else 0)
                out["n_bytes_out"].append(len(data))
                out["payload"].append(data)
            yield pd.DataFrame(out)

    return df.mapInPandas(_resize, schema=RESIZE_SCHEMA)
