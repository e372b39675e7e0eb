"""Multimodal (image/audio/video) column plumbing for training-data pipelines.

Media are opaque `binary` columns plus a typed metadata struct; decode /
feature-extract / resize / frame-sample run as Arrow-batched pandas
iterators over `mapInPandas`. The actual codec calls are STUBBED (this
container ships no image/audio libs): `decode_media` raises
NotImplementedError unless `fake=True`, in which case a deterministic fake
decoder (seeded by the payload digest) produces stable pseudo-features so the
Spark-side plumbing — schema, batch shape, partitioning — is fully testable.

Scale notes (100 TB design):
  - Binary payloads dominate bytes: keep them in their own parquet column so
    column pruning skips them for metadata-only queries; feature extraction
    reads payloads exactly once, in Arrow batches, and emits small fixed-width
    feature rows (never re-emits the binary).
  - `mapInPandas` preserves the input partitioning — no shuffle; size input
    partitions by bytes (spark.sql.files.maxPartitionBytes) so one Arrow
    batch of payloads fits executor memory.
  - Frame sampling multiplies rows (1 video -> n frames): emitted per input
    batch, so downstream repartition controls the fan-out.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

ID, PAYLOAD = "media_id", "payload"

# typed metadata carried beside every media payload
MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_type", StringType()),  # image|audio|video
        StructField("format", StringType()),      # png|jpeg|wav|mp4|...
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("sample_rate", IntegerType()),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("meta", MEDIA_META_SCHEMA),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("digest", StringType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("ts_ms", LongType()),
        StructField("frame_digest", StringType()),
    ]
)


def _fake_decode(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic fake 'decoder': digest bytes -> dim pseudo-features in
    [0, 1). Stands in for a real image/audio decode + model embed."""
    h = hashlib.sha256(payload).digest()
    return [int.from_bytes(h[4 * i : 4 * i + 4], "big") / 2**32 for i in range(dim)]


def decode_media(payload: bytes, fmt: str) -> Any:
    """REAL decode entry point — requires PIL/librosa/av, none of which ship
    in this container. Gate behind fake=True in the operators below."""
    raise NotImplementedError(
        f"media decode for format={fmt!r} requires an image/audio codec "
        "library not available in this environment; use fake=True for the "
        "deterministic test decoder"
    )


def extract_features(media: DataFrame, dim: int = 8, fake: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    mapInPandas keeps partitioning (no shuffle) and never re-emits the binary
    column — output rows are fixed-width (id, n_bytes, digest, features).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            feats = []
            for p in payloads:
                b = bytes(p) if p is not None else b""
                if not fake:
                    decode_media(b, "auto")  # raises: real codecs absent
                feats.append(_fake_decode(b, dim))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": payloads.map(lambda p: len(p) if p is not None else 0),
                    "digest": payloads.map(
                        lambda p: hashlib.md5(bytes(p) if p is not None else b"").hexdigest()
                    ),
                    "features": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def sample_frames(
    media: DataFrame, every_ms: int = 1000, max_frames: int = 16
) -> DataFrame:
    """Video frame sampling: one output row per sampled frame timestamp.

    Frame count = min(ceil(duration_ms / every_ms), max_frames) — every
    sampled timestamp i*every_ms lies strictly inside [0, duration_ms);
    frame 'content' is the deterministic digest of (payload digest, frame
    index) until a real codec is plugged into decode_media.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "frame_idx": [], "ts_ms": [], "frame_digest": []}
            for _, row in pdf.iterrows():
                dur = row["meta"]["duration_ms"] or 0
                n = min(int(-(-dur // every_ms)), max_frames)  # ceil; 0 if no duration
                base = hashlib.md5(bytes(row["payload"]) if row["payload"] is not None else b"").hexdigest()
                for i in range(n):
                    out["media_id"].append(row["media_id"])
                    out["frame_idx"].append(i)
                    out["ts_ms"].append(i * every_ms)
                    out["frame_digest"].append(
                        hashlib.md5(f"{base}:{i}".encode()).hexdigest()
                    )
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


def media_from_documents(docs: DataFrame, media_type: str = "image") -> DataFrame:
    """Derive a deterministic media table from `documents` for testing: the
    text bytes stand in for an encoded payload; metadata is derived from
    n_chars. Mirrored in SQL by the oracle CTE in __spark_entry__."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit("fake").alias("format"),
            (F.col("n_chars") % 640).cast("int").alias("width"),
            (F.col("n_chars") % 480).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
            F.lit(16000).alias("sample_rate"),
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# real (non-stubbed) container header parsing: PNG / GIF / JPEG / BMP / WAV
# dimensions and audio params are plain byte structures — no codec needed
# ---------------------------------------------------------------------------


def sniff_media_header(payload: bytes) -> dict | None:
    """Parse real container headers from raw bytes (stdlib-only): returns
    {format, width, height, sample_rate, channels} with None for fields the
    container lacks, or None when no known magic matches. Unlike
    decode_media (stubbed pixel decode), this is a REAL parser — corrupt or
    truncated headers return None rather than raising (quarantine-friendly).
    """
    import struct

    try:
        if payload[:8] == b"\x89PNG\r\n\x1a\n" and payload[12:16] == b"IHDR":
            w, h = struct.unpack(">II", payload[16:24])
            return {"format": "png", "width": w, "height": h,
                    "sample_rate": None, "channels": None}
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            w, h = struct.unpack("<HH", payload[6:10])
            return {"format": "gif", "width": w, "height": h,
                    "sample_rate": None, "channels": None}
        if payload[:2] == b"BM" and len(payload) >= 26:
            w, h = struct.unpack("<ii", payload[18:26])
            return {"format": "bmp", "width": w, "height": abs(h),
                    "sample_rate": None, "channels": None}
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            # walk chunks to fmt
            off = 12
            while off + 8 <= len(payload):
                cid, sz = payload[off:off + 4], struct.unpack("<I", payload[off + 4:off + 8])[0]
                if cid == b"fmt ":
                    ch, sr = struct.unpack("<HI", payload[off + 10:off + 16])
                    return {"format": "wav", "width": None, "height": None,
                            "sample_rate": sr, "channels": ch}
                off += 8 + sz + (sz & 1)
            return None
        if payload[:2] == b"\xff\xd8":  # JPEG: scan segments for SOFn
            off = 2
            while off + 9 <= len(payload):
                if payload[off] != 0xFF:
                    return None
                marker = payload[off + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    off += 2
                    continue
                seg_len = struct.unpack(">H", payload[off + 2:off + 4])[0]
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    h, w = struct.unpack(">HH", payload[off + 5:off + 9])
                    return {"format": "jpeg", "width": w, "height": h,
                            "sample_rate": None, "channels": None}
                off += 2 + seg_len
            return None
        if len(payload) >= 12 and payload[4:8] == b"ftyp":
            # ISO BMFF (MP4/MOV): walk top-level boxes, then moov/trak/tkhd
            # for the video track's 16.16 fixed-point width/height
            return _sniff_mp4(payload)
        if payload[:3] == b"ID3" and len(payload) >= 10:
            # MP3 with ID3v2 tag: syncsafe tag size, then the first MPEG
            # audio frame header carries the sample rate / channel mode
            tag_sz = (
                (payload[6] << 21) | (payload[7] << 14)
                | (payload[8] << 7) | payload[9]
            )
            return _sniff_mpeg_frame(payload, 10 + tag_sz)
        if payload[:2] in (b"\xff\xfb", b"\xff\xf3", b"\xff\xf2"):
            return _sniff_mpeg_frame(payload, 0)  # bare MP3 frame
    except Exception:
        return None
    return None


def _walk_boxes(payload: bytes, start: int, end: int):
    """Yield (box_type, body_start, body_end) for ISO-BMFF boxes."""
    import struct

    off = start
    while off + 8 <= end:
        sz = struct.unpack(">I", payload[off:off + 4])[0]
        typ = payload[off + 4:off + 8]
        if sz == 1:  # 64-bit largesize
            if off + 16 > end:
                return
            sz = struct.unpack(">Q", payload[off + 8:off + 16])[0]
            if sz < 16:
                # corrupt largesize (< header size, incl. 0) would make
                # `off += sz` stop advancing: an infinite loop no
                # try/except can catch — treat as truncation and stop
                return
            yield typ, off + 16, min(off + sz, end)
        else:
            if sz < 8:
                return
            yield typ, off + 8, min(off + sz, end)
        off += sz


def _sniff_mp4(payload: bytes) -> dict | None:
    import struct

    for typ, s, e in _walk_boxes(payload, 0, len(payload)):
        if typ != b"moov":
            continue
        for t2, s2, e2 in _walk_boxes(payload, s, e):
            if t2 != b"trak":
                continue
            for t3, s3, e3 in _walk_boxes(payload, s2, e2):
                if t3 != b"tkhd" or e3 - s3 < 4:
                    continue
                version = payload[s3]
                # tkhd: ver(1)+flags(3)+times(ver0:4*3 ver1:8*2+4)+id...
                # width/height are the LAST 8 bytes of the box, 16.16 fixed
                w_fx, h_fx = struct.unpack(">II", payload[e3 - 8:e3])
                w, h = w_fx >> 16, h_fx >> 16
                if w and h:
                    return {"format": "mp4", "width": w, "height": h,
                            "sample_rate": None, "channels": None}
        return {"format": "mp4", "width": None, "height": None,
                "sample_rate": None, "channels": None}
    # ftyp present but no moov in the prefix we were handed
    return {"format": "mp4", "width": None, "height": None,
            "sample_rate": None, "channels": None}


_MPEG_SR = {  # (version_bits) -> sample-rate table, index by sr_bits
    3: (44100, 48000, 32000),   # MPEG1
    2: (22050, 24000, 16000),   # MPEG2
    0: (11025, 12000, 8000),    # MPEG2.5
}


def _sniff_mpeg_frame(payload: bytes, off: int) -> dict | None:
    if off + 4 > len(payload):
        return None
    b0, b1, b2, b3 = payload[off:off + 4]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        return None
    version = (b1 >> 3) & 0x3
    sr_idx = (b2 >> 2) & 0x3
    table = _MPEG_SR.get(version)
    if table is None or sr_idx >= 3:
        return None
    channels = 1 if ((b3 >> 6) & 0x3) == 3 else 2  # 3 = mono
    return {"format": "mp3", "width": None, "height": None,
            "sample_rate": table[sr_idx], "channels": channels}


SNIFF_SCHEMA = (
    "media_id long, format string, width int, height int, "
    "sample_rate int, channels int, header_ok boolean"
)


def sniff_media(media: DataFrame) -> DataFrame:
    """Arrow-batched real header sniffing over a media frame: one row per
    payload with parsed container facts and header_ok=false for unknown/
    corrupt magics (the quarantine split for a media-ingest pipeline).
    mapInPandas preserves partitioning — no shuffle; payloads are read once
    per batch and never re-emitted."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            metas = [
                None
                if p is None
                else sniff_media_header(p if isinstance(p, bytes) else bytes(p))
                for p in b[PAYLOAD]
            ]  # NULL payload -> header_ok=false row (quarantine contract)
            yield pd.DataFrame(
                {
                    "media_id": b[ID].to_numpy(),
                    "format": [m["format"] if m else None for m in metas],
                    "width": pd.array(
                        [m["width"] if m else None for m in metas], dtype="Int32"
                    ),
                    "height": pd.array(
                        [m["height"] if m else None for m in metas], dtype="Int32"
                    ),
                    "sample_rate": pd.array(
                        [m["sample_rate"] if m else None for m in metas],
                        dtype="Int32",
                    ),
                    "channels": pd.array(
                        [m["channels"] if m else None for m in metas], dtype="Int32"
                    ),
                    "header_ok": [m is not None for m in metas],
                }
            )

    return media.select(ID, PAYLOAD).mapInPandas(run, SNIFF_SCHEMA)


# ---------------------------------------------------------------------------
# Real WAV PCM audio: synthesize with the stdlib codec, decode it back, and
# reduce to exact-integer sample statistics. Unlike the stubbed image/video
# decoders above, this is a REAL end-to-end codec path — `wave` ships with
# CPython — so the audio half of the multimodal pipeline exercises true
# bytes-in/samples-out decoding with no external dependency.
# ---------------------------------------------------------------------------

WAV_RATE = 8000

PCM_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("sum_amp", LongType()),
        StructField("sum_sq_dev", LongType()),
    ]
)


def _synth_pcm(media_id: int) -> bytes:
    """Deterministic 8-bit mono PCM: n = 800 + id%100 samples of
    s_i = (id*7 + i*13) % 256. Closed-form per id, so an SQL oracle can
    state the expected decoded statistics exactly."""
    import io
    import wave

    n = 800 + media_id % 100
    frames = bytes((media_id * 7 + i * 13) % 256 for i in range(n))
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(WAV_RATE)
        w.writeframes(frames)
    return buf.getvalue()


def synth_wav(df: DataFrame) -> DataFrame:
    """(media_id, payload): deterministic WAV container per id — the
    ingest-side encoder. Arrow-batched; payload never exceeds ~1 KB here,
    but the shape (id projection -> binary column) is the real one."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            ids = b[ID].astype("int64")
            yield pd.DataFrame(
                {"media_id": ids, "payload": [_synth_pcm(int(i)) for i in ids]}
            )

    schema = StructType(
        [StructField("media_id", LongType()), StructField("payload", BinaryType())]
    )
    return df.select(ID).mapInPandas(run, schema)


def wav_pcm_stats(media: DataFrame) -> DataFrame:
    """Decode WAV payloads (stdlib `wave`) and emit exact-integer PCM
    statistics: sample count, rate, duration, amplitude sum, and squared
    deviation from the 8-bit midpoint (128) — the integer core of an RMS
    loudness probe. All outputs are exact integers, so the oracle replays
    them in closed form; a float RMS would be the only non-portable step
    and is left to the consumer.

    mapInPandas preserves partitioning; payloads are decoded once per row
    and only fixed-width stats rows are emitted.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        for b in batches:
            if not len(b):
                continue
            rows = []
            for mid, p in zip(b[ID], b[PAYLOAD]):
                raw = p if isinstance(p, bytes) else bytes(p)
                with wave.open(io.BytesIO(raw), "rb") as w:
                    if w.getsampwidth() != 1 or w.getnchannels() != 1:
                        # the byte-wise amplitude fold below is only
                        # meaningful for 8-bit mono PCM; interleaved
                        # 16-bit bytes would emit silent garbage stats
                        raise ValueError(
                            "wav_pcm_stats expects 8-bit mono PCM, got "
                            f"{8 * w.getsampwidth()}-bit "
                            f"{w.getnchannels()}-channel"
                        )
                    rate = w.getframerate()
                    n = w.getnframes()
                    frames = w.readframes(n)
                samples = list(frames)  # 8-bit PCM: one byte per sample
                rows.append(
                    {
                        "media_id": int(mid),
                        "n_samples": n,
                        "sample_rate": rate,
                        "duration_ms": n * 1000 // rate,
                        "sum_amp": sum(samples),
                        "sum_sq_dev": sum((s - 128) ** 2 for s in samples),
                    }
                )
            yield pd.DataFrame(rows)

    return media.select(ID, PAYLOAD).mapInPandas(run, PCM_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# Real PGM (P5) image decode — the image sibling of the WAV path above: a
# genuine bytes-in/pixels-out parser with no codec library (binary PGM is
# header + raw grayscale bytes), deterministic synthesis, and exact-integer
# statistics an SQL oracle states in closed form.
# ---------------------------------------------------------------------------

PGM_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("maxval", IntegerType()),
        StructField("sum_px", LongType()),
        StructField("min_px", IntegerType()),
        StructField("max_px", IntegerType()),
    ]
)


def _synth_pgm(media_id: int) -> bytes:
    """Deterministic binary PGM: w = 8 + id%5, h = 6 + id%4, pixel k =
    (id*11 + k*7) % 256 in row-major order."""
    w = 8 + media_id % 5
    h = 6 + media_id % 4
    header = f"P5\n{w} {h}\n255\n".encode()
    return header + bytes((media_id * 11 + k * 7) % 256 for k in range(w * h))


def decode_pgm(payload: bytes) -> dict:
    """Parse a binary (P5) PGM: magic, whitespace/comment-tolerant header
    tokens (width, height, maxval), then raw pixel bytes. Raises ValueError
    on malformed input — callers quarantine, mirroring sniff_media."""
    if payload[:2] != b"P5":
        raise ValueError("not a binary PGM (P5) payload")
    # tokenize header: after the magic, the next three whitespace-separated
    # tokens are width/height/maxval; '#' starts a comment to end-of-line
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(payload):
            raise ValueError("truncated PGM header")
        c = payload[pos:pos + 1]
        if c == b"#":
            nl = payload.find(b"\n", pos)
            pos = len(payload) if nl == -1 else nl + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(payload) and not payload[end:end + 1].isspace():
                end += 1
            tokens.append(int(payload[pos:end]))
            pos = end
    pos += 1  # single whitespace byte after maxval, then raster
    w, h, maxval = tokens
    if maxval > 255:
        raise ValueError("16-bit PGM unsupported")
    px = payload[pos:pos + w * h]
    if len(px) != w * h:
        raise ValueError("truncated PGM raster")
    return {
        "width": w,
        "height": h,
        "maxval": maxval,
        "sum_px": sum(px),
        "min_px": min(px),
        "max_px": max(px),
    }


def synth_pgm(df: DataFrame) -> DataFrame:
    """(media_id, payload): deterministic PGM container per id."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            ids = b[ID].astype("int64")
            yield pd.DataFrame(
                {"media_id": ids, "payload": [_synth_pgm(int(i)) for i in ids]}
            )

    schema = StructType(
        [StructField("media_id", LongType()), StructField("payload", BinaryType())]
    )
    return df.select(ID).mapInPandas(run, schema)


def pgm_pixel_stats(media: DataFrame) -> DataFrame:
    """Decode PGM payloads and emit exact-integer pixel statistics. Same
    scale contract as wav_pcm_stats: decode once per row inside
    mapInPandas, emit fixed-width rows, never re-emit the binary."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            rows = []
            for mid, p in zip(b[ID], b[PAYLOAD]):
                d = decode_pgm(p if isinstance(p, bytes) else bytes(p))
                d["media_id"] = int(mid)
                rows.append(d)
            yield pd.DataFrame(rows)

    return media.select(ID, PAYLOAD).mapInPandas(run, PGM_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# Real ZIP archive ingestion: a third genuine container format (after WAV
# and PGM) — archives-of-documents are a standard data-lake delivery shape,
# and member metadata (names, sizes, CRCs) reads from the central directory
# WITHOUT decompressing anything.
# ---------------------------------------------------------------------------

ZIP_MEMBER_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("member", StringType()),
        StructField("n_bytes", LongType()),
        StructField("crc32", LongType()),
        StructField("content_digest", StringType()),
    ]
)


def _synth_zip(media_id: int) -> bytes:
    """Deterministic STORED (uncompressed) zip: 2 + id%3 text members,
    member k named 'doc_k.txt' containing 'm<id>k<k>' repeated 10+k times
    — sizes and CRCs are closed-form for the oracle."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", compression=zipfile.ZIP_STORED) as z:
        for k in range(2 + media_id % 3):
            z.writestr(f"doc_{k}.txt", f"m{media_id}k{k}" * (10 + k))
    return buf.getvalue()


def synth_zip(df: DataFrame) -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            ids = b[ID].astype("int64")
            yield pd.DataFrame(
                {"media_id": ids, "payload": [_synth_zip(int(i)) for i in ids]}
            )

    schema = StructType(
        [StructField("media_id", LongType()), StructField("payload", BinaryType())]
    )
    return df.select(ID).mapInPandas(run, schema)


def zip_members(media: DataFrame) -> DataFrame:
    """One row per archive member: name, uncompressed size, the container's
    own CRC32, and an md5 of the extracted content (the dedup key an
    archive-ingest pipeline carries forward). Central-directory metadata
    costs no decompression; the digest extracts each member once. Corrupt
    archives raise (BadZipFile) — quarantine upstream like sniff_media."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import zipfile

        for b in batches:
            if not len(b):
                continue
            rows = []
            for mid, p in zip(b[ID], b[PAYLOAD]):
                raw = p if isinstance(p, bytes) else bytes(p)
                with zipfile.ZipFile(io.BytesIO(raw)) as z:
                    for info in z.infolist():
                        rows.append(
                            {
                                "media_id": int(mid),
                                "member": info.filename,
                                "n_bytes": info.file_size,
                                "crc32": info.CRC,
                                "content_digest": hashlib.md5(
                                    z.read(info)  # by ZipInfo: duplicate member names are legal in zip
                                ).hexdigest(),
                            }
                        )
            yield pd.DataFrame(rows)

    return media.select(ID, PAYLOAD).mapInPandas(run, ZIP_MEMBER_SCHEMA)


# ---------------------------------------------------------------------------
# Animated-GIF container traversal: frame counting WITHOUT pixel decode —
# the video-ish member of the real-container family (WAV/PGM/ZIP). Probing
# frame counts/dimensions by walking the block structure (descriptors,
# extension chains, length-prefixed sub-blocks) is exactly what production
# media probes do before deciding whether to pay for a full decode.
# ---------------------------------------------------------------------------

GIF_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("n_extensions", IntegerType()),
        StructField("data_bytes", LongType()),
    ]
)


def _synth_gif(media_id: int) -> bytes:
    """Deterministic GIF89a container: w=10+id%6, h=8+id%5, 1+id%4 frames,
    each preceded by a Graphic Control Extension; frame k's image data is
    one sub-block of 5+k bytes (valid container structure — the raster
    bits are opaque to a block-walker, so deterministic filler is fine)."""
    w, h = 10 + media_id % 6, 8 + media_id % 5
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x00, 0x00, 0x00])  # no GCT, bg, aspect
    for k in range(1 + media_id % 4):
        # GCE: introducer, label, block size 4, flags/delay/transp, term
        out += bytes([0x21, 0xF9, 0x04, 0x00, 0x0A, 0x00, 0x00, 0x00])
        out += bytes([0x2C])  # image descriptor
        out += (0).to_bytes(2, "little") * 2
        out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
        out += bytes([0x00])  # no local color table
        out += bytes([0x02])  # LZW min code size
        n = 5 + k
        out += bytes([n]) + bytes((media_id + k + i) % 256 for i in range(n))
        out += bytes([0x00])  # sub-block terminator
    out += bytes([0x3B])  # trailer
    return bytes(out)


def parse_gif_structure(payload: bytes) -> dict:
    """Walk the GIF block structure: logical screen size, image-descriptor
    count (= frames), extension count, and raster sub-block byte total.
    No LZW decode — dimensions and frame counts come free from the
    container. Raises ValueError on malformed structure (quarantine)."""
    if payload[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("not a GIF")
    w = int.from_bytes(payload[6:8], "little")
    h = int.from_bytes(payload[8:10], "little")
    flags = payload[10]
    pos = 13
    if flags & 0x80:  # global color table present
        pos += 3 * (2 << (flags & 0x07))
    frames = exts = data_bytes = 0

    def skip_subblocks(p: int) -> tuple[int, int]:
        total = 0
        while True:
            if p >= len(payload):
                raise ValueError("truncated sub-block chain")
            n = payload[p]
            p += 1
            if n == 0:
                return p, total
            total += n
            p += n

    while pos < len(payload):
        b = payload[pos]
        pos += 1
        if b == 0x3B:  # trailer
            return {
                "width": w, "height": h, "n_frames": frames,
                "n_extensions": exts, "data_bytes": data_bytes,
            }
        if b == 0x21:  # extension: label + sub-block chain
            pos += 1
            pos, _ = skip_subblocks(pos)
            exts += 1
        elif b == 0x2C:  # image descriptor
            ifl = payload[pos + 8]
            pos += 9
            if ifl & 0x80:  # local color table
                pos += 3 * (2 << (ifl & 0x07))
            pos += 1  # LZW min code size
            pos, n = skip_subblocks(pos)
            frames += 1
            data_bytes += n
        else:
            raise ValueError(f"unknown block 0x{b:02x}")
    raise ValueError("missing trailer")


def gif_structure(media: DataFrame) -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            rows = []
            for mid, p in zip(b[ID], b[PAYLOAD]):
                d = parse_gif_structure(
                    p if isinstance(p, bytes) else bytes(p)
                )
                d["media_id"] = int(mid)
                rows.append(d)
            yield pd.DataFrame(rows)

    return media.select(ID, PAYLOAD).mapInPandas(run, GIF_STATS_SCHEMA)


def synth_gif(df: DataFrame) -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            ids = b[ID].astype("int64")
            yield pd.DataFrame(
                {"media_id": ids, "payload": [_synth_gif(int(i)) for i in ids]}
            )

    schema = StructType(
        [StructField("media_id", LongType()), StructField("payload", BinaryType())]
    )
    return df.select(ID).mapInPandas(run, schema)
