"""Multimodal column plumbing — opaque binary media + typed metadata.

Design (the 100 TB training-data posture): image/audio/video payloads
travel as ``binary`` columns next to a typed ``meta`` struct; decode /
feature-extract / frame-sample run as Arrow-batched
``mapInPandas`` stages so bytes cross the JVM↔Python boundary once per
batch, never per row. Decode is pluggable with THREE real native
codecs (pure bytes + numpy, no libraries): binary PPM (P6) images,
RIFF/PCM WAV audio, and YUV4MPEG2 (y4m) video — each value-proven end
to end by a declared query (q105/q106/q107). Compressed formats
(JPEG/PNG/mp3/mp4) need a codec library the engine does not use: the
default codec for arbitrary payloads is a DETERMINISTIC FAKE
(md5-seeded from the bytes) so the Spark-side contract (schemas,
batch iteration, output cardinality, partitioning) stays fully
tested regardless.

Scale notes:
- ``spark.sql.execution.arrow.maxPartitionBytes`` doesn't see binary
  blobs; bound batch memory with
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (set per-job to
  ~batch_bytes / avg_blob_size).
- media tables should be written with blobs LAST in the schema and
  read with column pruning — metadata-only queries must never touch
  the bytes (parquet column chunks make that free).
- frame sampling EXPANDS rows (one in → many out); mapInPandas yields
  multiple frames per input row without materializing whole videos.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("codec", T.StringType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("meta", MEDIA_META),
        T.StructField("content", T.BinaryType()),  # blobs last: prune cheaply
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("checksum", T.LongType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_ms", T.IntegerType()),
        T.StructField("frame_checksum", T.LongType()),
    ]
)

_FEATURE_DIM = 8


def _md5_hex(content: bytes) -> str:
    return hashlib.md5(content).hexdigest()


def _md5_checksum48(content: bytes) -> int:
    """48-bit content checksum from md5 — the same engine-portable
    truncation the dedup/sketch family uses, so any SQL engine with
    md5 can recompute it (crc32 previously used here has no DuckDB
    twin, which kept the whole multimodal surface rows-only)."""
    return int(_md5_hex(content)[:12], 16)


def _fake_decode(content: bytes) -> np.ndarray:
    """Deterministic stand-in for a real codec: 64 pseudo-pixels, each
    the first byte of md5(md5(content) ':' index). Replace with
    PIL/libav behind the same signature when the libs exist. The md5
    chain (not a seeded RNG) makes the stub reproducible OUTSIDE numpy
    — the DuckDB oracle recomputes every pixel, so even the stub
    pipeline is value-checked end to end."""
    base = _md5_hex(content)
    return np.array(
        [
            int(hashlib.md5(f"{base}:{j}".encode()).hexdigest()[:2], 16)
            for j in range(64)
        ],
        dtype=np.int64,
    )


# ---------------------------------------------------------------------------
# REAL codec: binary PPM (P6) — pure bytes + numpy, no external libraries.
# One genuinely-decodable format upgrades the multimodal surface from
# stub-only: the Arrow plumbing carries REAL pixels for PPM payloads.
# ---------------------------------------------------------------------------


def decode_ppm(content: bytes) -> np.ndarray:
    """Decode a binary PPM (P6) payload to an (h, w, 3) uint8 array.

    Format: ASCII header ``P6 <width> <height> <maxval>`` with
    whitespace separators and ``#`` comments, then a single whitespace
    byte, then ``w*h*3`` raw big-endian samples (maxval <= 255
    supported — the 8-bit case)."""
    if content[:2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    fields: list[int] = []
    i = 2
    n = len(content)
    while len(fields) < 3:
        while i < n and content[i : i + 1].isspace():
            i += 1
        if i < n and content[i : i + 1] == b"#":  # comment to end of line
            while i < n and content[i : i + 1] not in (b"\n", b"\r"):
                i += 1
            continue
        start = i
        while i < n and not content[i : i + 1].isspace():
            i += 1
        if start == i:
            raise ValueError("truncated PPM header")
        fields.append(int(content[start:i]))
    i += 1  # exactly one whitespace after maxval
    w, h, maxval = fields[0], fields[1], fields[2]
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    expect = w * h * 3
    raw = content[i : i + expect]
    if len(raw) != expect:
        raise ValueError(f"PPM payload truncated: {len(raw)} != {expect}")
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)


def encode_ppm(arr: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as binary PPM (P6)."""
    h, w, c = arr.shape
    if c != 3:
        raise ValueError("PPM is 3-channel RGB")
    header = f"P6\n{w} {h}\n255\n".encode()
    return header + arr.astype(np.uint8).tobytes()


# ---------------------------------------------------------------------------
# REAL codec: WAV (RIFF PCM) — pure bytes + numpy, no libraries.
# ---------------------------------------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Encode a 1-D int16 array as a mono 16-bit PCM WAV file."""
    import struct

    data = samples.astype("<i2").tobytes()
    n = len(data)
    return b"".join(
        [
            b"RIFF",
            struct.pack("<I", 36 + n),
            b"WAVE",
            b"fmt ",
            struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16),
            b"data",
            struct.pack("<I", n),
            data,
        ]
    )


def decode_wav(content: bytes) -> tuple[np.ndarray, int, int]:
    """Decode a PCM WAV payload → (samples int16 per-channel-interleaved,
    sample_rate, channels). Walks RIFF chunks (fmt may be followed by
    LIST/fact etc. before data); 16-bit PCM only."""
    import struct

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, n = 12, len(content)
    rate = channels = bits = None
    samples = None
    while i + 8 <= n:
        cid = content[i : i + 4]
        (size,) = struct.unpack("<I", content[i + 4 : i + 8])
        body = content[i + 8 : i + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                # ValueError, not struct.error: every malformed-input
                # path in this module raises ValueError so callers can
                # quarantine bad media rows with one except clause
                raise ValueError("WAV fmt chunk truncated")
            fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if fmt != 1 or bits != 16:
                raise ValueError("only 16-bit PCM WAV supported")
        elif cid == b"data":
            if len(body) != size:
                raise ValueError("WAV data chunk truncated")
            samples = np.frombuffer(body, dtype="<i2")
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("WAV missing fmt or data chunk")
    return samples, rate, channels


# ---------------------------------------------------------------------------
# REAL codec: YUV4MPEG2 (y4m) — uncompressed video, pure bytes.
# ---------------------------------------------------------------------------


def encode_y4m(frames: np.ndarray, fps: int = 5) -> bytes:
    """Encode (n_frames, 3, h, w) uint8 YUV (C444 planar) as y4m."""
    f, c, h, w = frames.shape
    if c != 3:
        raise ValueError("y4m C444 needs 3 planes")
    header = f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C444\n".encode()
    out = [header]
    for k in range(f):
        out.append(b"FRAME\n")
        out.append(frames[k].astype(np.uint8).tobytes())
    return b"".join(out)


def decode_y4m(content: bytes) -> tuple[np.ndarray, int]:
    """Decode a C444 y4m payload → ((n_frames, 3, h, w) uint8, fps)."""
    nl = content.index(b"\n")
    header = content[:nl].decode()
    parts = header.split()
    if parts[0] != "YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 payload")
    w = h = fps = None
    colorspace = "C420"
    for p in parts[1:]:
        if p.startswith("W"):
            w = int(p[1:])
        elif p.startswith("H"):
            h = int(p[1:])
        elif p.startswith("F"):
            fps = int(p[1:].split(":")[0])
        elif p.startswith("C"):
            colorspace = p
    if colorspace != "C444":
        raise ValueError("only C444 y4m supported")
    if w is None or h is None or fps is None:
        raise ValueError("y4m header missing W/H/F")
    frame_bytes = 3 * w * h
    i = nl + 1
    frames = []
    while i < len(content):
        if content[i : i + 6] != b"FRAME\n":
            raise ValueError("bad y4m FRAME marker")
        i += 6
        raw = content[i : i + frame_bytes]
        if len(raw) != frame_bytes:
            raise ValueError("y4m frame truncated")
        frames.append(
            np.frombuffer(raw, dtype=np.uint8).reshape(3, h, w)
        )
        i += frame_bytes
    return np.stack(frames), fps


def media_features(df: DataFrame, codec: str = "stub") -> DataFrame:
    """Decode + featurize each media row → fixed-dim feature vector.

    mapInPandas contract: input batches arrive as pandas frames of the
    FULL media schema; output declares FEATURE_SCHEMA. One Python
    worker call per Arrow batch — vectorized over the batch, and the
    blob column is dropped on output so downstream stages shuffle
    features, not bytes.

    ``codec``: ``"stub"`` (default) runs the md5-chain fake decode —
    the oracle-checkable path the declared queries use; ``"ppm"``
    decodes REAL binary-PPM payloads natively (:func:`decode_ppm` —
    no libraries needed) and features come from actual pixels (q105
    value-proves this path end to end). WAV and y4m have their own
    dedicated operators.
    """
    if codec not in ("stub", "ppm"):
        raise ValueError(f"codec must be 'stub' or 'ppm': {codec}")
    from ..catalog import spread_for_compute

    df = spread_for_compute(df)  # decode is the per-row-heavy stage

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, content in zip(
                pdf["media_id"], pdf["kind"], pdf["content"]
            ):
                raw = bytes(content)
                if codec == "ppm":
                    px = decode_ppm(raw).astype(np.int64).ravel()
                    if px.size % _FEATURE_DIM:
                        raise ValueError(
                            f"PPM pixel count {px.size} is not a "
                            f"multiple of the feature dim {_FEATURE_DIM}"
                            " — pad or crop the image first"
                        )
                else:
                    px = _fake_decode(raw)
                # fixed-dim pooled feature: per-chunk means (pixel
                # counts here are multiples of the feature dim; the
                # ppm caller guarantees it, the stub emits 64)
                feat = (
                    px.reshape(_FEATURE_DIM, -1).mean(axis=1).astype(np.float32)
                )
                rows.append(
                    {
                        "media_id": mid,
                        "kind": kind,
                        "n_bytes": len(raw),
                        "checksum": _md5_checksum48(raw),
                        "mean_intensity": float(px.mean()),
                        "feature": feat,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA])

    return df.mapInPandas(featurize, FEATURE_SCHEMA)


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sample videos: one output row per sampled timestamp — the
    row-expanding shape (a video of duration D emits ceil(D/every_ms)
    frames). Non-video rows emit nothing."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, meta, content in zip(
                pdf["media_id"], pdf["kind"], pdf["meta"], pdf["content"]
            ):
                if kind != "video" or meta is None:
                    continue
                duration = int(meta["duration_ms"] or 0)
                raw = bytes(content)
                base = _md5_hex(raw)
                for i, ts in enumerate(range(0, duration, every_ms)):
                    rows.append(
                        {
                            "media_id": mid,
                            "frame_idx": i,
                            "ts_ms": ts,
                            # stub "decode frame at ts": content hash
                            # chained with the timestamp — md5-portable,
                            # so the frame sampler oracle-checks too
                            "frame_checksum": int(
                                hashlib.md5(
                                    f"{base}:{ts}".encode()
                                ).hexdigest()[:12],
                                16,
                            ),
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA])

    return df.mapInPandas(sample, FRAME_SCHEMA)


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("mean_amplitude", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def audio_features(df: DataFrame) -> DataFrame:
    """REAL audio featurization: decode each WAV payload natively
    (:func:`decode_wav` — RIFF chunk walk, 16-bit PCM) and emit
    sample-level statistics from the actual samples. Same Arrow
    batching contract as media_features; q106 value-proves the
    encode→decode roundtrip against a closed-form oracle.

    Float determinism: the sample sum and the sum of squares are
    exact integers (|s| < 2^15, so the square sum stays < 2^53 for
    any realistic clip), and mean/rms are one division (plus one
    correctly-rounded sqrt for rms) — engine-exact, no quantization
    needed."""
    from ..catalog import spread_for_compute

    df = spread_for_compute(df)

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                raw = bytes(content)
                samples, rate, _channels = decode_wav(raw)
                s = samples.astype(np.int64)
                n = len(s)
                rows.append(
                    {
                        "media_id": mid,
                        "n_bytes": len(raw),
                        "n_samples": n,
                        "sample_rate": rate,
                        "duration_ms": int(n * 1000 // rate),
                        "mean_amplitude": float(int(s.sum()) / n),
                        "rms": float(
                            np.sqrt(int((s * s).sum()) / n)
                        ),
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_FEATURE_SCHEMA]
            )

    return df.mapInPandas(featurize, AUDIO_FEATURE_SCHEMA)


AUDIO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("energy", T.LongType()),
    ]
)


def audio_frame_energy(df: DataFrame, frame: int = 40) -> DataFrame:
    """REAL frame-level audio energy: decode each WAV payload
    (:func:`decode_wav`) and emit one row per ``frame``-sample frame
    with its EXACT integer energy Σ s² (|s| < 2^15 → a frame sum
    < frame·2^30, exact in int64) — the row-expanding audio shape
    (the y4m twin is sample_frames_y4m) that downstream silence/VAD
    segmentation consumes as plain DataFrame algebra (q194). A
    trailing partial frame is emitted with its partial energy, so the
    frame count is ceil(n/frame) and nothing is dropped."""
    from ..catalog import spread_for_compute

    df = spread_for_compute(df)

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, energies = [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                samples, _rate, _channels = decode_wav(bytes(content))
                s = samples.astype(np.int64)
                n = len(s)
                pad = (-n) % frame
                if pad:
                    s = np.concatenate([s, np.zeros(pad, dtype=np.int64)])
                e = (s * s).reshape(-1, frame).sum(axis=1)
                ids.extend([mid] * len(e))
                idxs.extend(range(len(e)))
                energies.extend(int(x) for x in e)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "energy": pd.Series(energies, dtype="int64"),
                }
            )

    return df.mapInPandas(frames, AUDIO_FRAME_SCHEMA)


Y4M_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_ms", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def sample_frames_y4m(df: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL frame sampling: decode y4m payloads (:func:`decode_y4m`)
    and emit every ``every_n``-th frame's timestamp and ACTUAL mean
    luma (Y-plane mean of the decoded frame) — the row-expanding
    multimodal shape (q54's stub twin) on genuine video bytes. The
    luma mean is an exact integer sum through one division, so q107
    value-checks the codec end to end."""
    from ..catalog import spread_for_compute

    df = spread_for_compute(df)

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                frames, fps = decode_y4m(bytes(content))
                for idx in range(0, frames.shape[0], every_n):
                    y = frames[idx, 0].astype(np.int64)
                    rows.append(
                        {
                            "media_id": mid,
                            "frame_idx": idx,
                            "ts_ms": idx * 1000 // fps,
                            "mean_luma": float(int(y.sum()) / y.size),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in Y4M_FRAME_SCHEMA]
            )

    return df.mapInPandas(sample, Y4M_FRAME_SCHEMA)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat the testdata ``documents`` table as a media corpus
    (utf-8 payload bytes + synthesized meta) — exercises the full
    binary-column pipeline against driver-provided data."""
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    meta = F.struct(
        (F.col("n_chars") % 640 + 16).cast("int").alias("width"),
        (F.col("n_chars") % 480 + 16).cast("int").alias("height"),
        F.lit(3).alias("channels"),
        F.lit(16000).alias("sample_rate"),
        ((F.col("n_chars") % 10 + 1) * 1000).cast("int").alias("duration_ms"),
        F.lit("stub").alias("codec"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        meta.alias("meta"),
        F.encode("text", "utf-8").alias("content"),
    )


_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("dhash", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def image_dhash(df: DataFrame, codec: str = "ppm") -> DataFrame:
    """Difference-hash (dHash) over DECODED pixels — the perceptual
    fingerprint that turns near-duplicate IMAGE detection into a
    groupBy, the multimodal twin of the text-side md5 fingerprint
    (q25) / SimHash (q29) family.

    Per image: channel-summed gray (integer addition only — no
    division, no float), 8 horizontal bands with boundaries
    ``floor(b·h/8)`` (exact integer pooling; a band that gets no
    rows at small heights sums to 0), then bit(r, c) =
    [band r sum < band r+1 sum], packed row-major into a
    ``7·w``-bit integer (w=8 → 56 bits, sign-safe in int64).
    Every step is exact integer arithmetic, so the hash is
    bit-portable across engines and replayable in closed form for a
    synthetic corpus (q179's oracle).

    Scale: the mapInPandas decode is the per-row-heavy stage (spread
    first); output carries (media_id, dhash, n_bytes) — 24 bytes per
    image into the dedup groupBy, never pixels.
    """
    if codec != "ppm":
        raise ValueError(
            "only the native PPM decode path is wired; compressed"
            " codecs keep the library extension point"
        )
    from ..catalog import spread_for_compute

    df = spread_for_compute(df)

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                raw = bytes(content)
                px = decode_ppm(raw).astype(np.int64)
                h, w, _ = px.shape
                if 7 * w > 63:
                    # Bit positions r·w+c reach 7·w−1; past 62
                    # the shift hits the int64 sign bit / silently
                    # overflows in numpy — fail loudly, never hash wrong.
                    raise ValueError(
                        "dHash needs 7 bands × width <= 63 bits to pack "
                        f"into int64; got width={w} — pre-pool columns"
                    )
                gray = px.sum(axis=2)
                g = np.zeros((8, w), dtype=np.int64)
                for b in range(8):
                    lo, hi = b * h // 8, (b + 1) * h // 8
                    if hi > lo:
                        g[b] = gray[lo:hi].sum(axis=0)
                bits = (g[:-1] < g[1:]).astype(np.int64)
                weights = 1 << (
                    np.arange(7, dtype=np.int64)[:, None] * w
                    + np.arange(w, dtype=np.int64)[None, :]
                )
                rows.append(
                    {
                        "media_id": mid,
                        "dhash": int((bits * weights).sum()),
                        "n_bytes": len(raw),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "dhash", "n_bytes"]
            )

    return df.mapInPandas(hash_batch, _DHASH_SCHEMA)


_LUMA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("luma_sum", T.LongType()),
        T.StructField("n_pixels", T.LongType()),
    ]
)


def frame_luma_sums(df: DataFrame) -> DataFrame:
    """Decode y4m payloads and emit EVERY frame's exact integer
    Y-plane sum + pixel count — the minimal per-frame statistic that
    downstream temporal analysis (shot boundaries, fades, freeze
    detection) needs. Emitting the integer sum instead of the mean
    keeps everything after the codec exact: thresholds compare sums,
    and any mean is one final division.

    Scale: the decode is the per-row-heavy stage (spread first);
    output is 28 bytes per frame — pixels never leave the task."""
    from ..catalog import spread_for_compute

    df = spread_for_compute(df)

    def luma(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                frames, _fps = decode_y4m(bytes(content))
                for idx in range(frames.shape[0]):
                    y = frames[idx, 0].astype(np.int64)
                    rows.append(
                        {
                            "media_id": mid,
                            "frame_idx": idx,
                            "luma_sum": int(y.sum()),
                            "n_pixels": int(y.size),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "luma_sum", "n_pixels"],
            )

    return df.mapInPandas(luma, _LUMA_SCHEMA)
