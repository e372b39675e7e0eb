"""Content-defined chunking (CDC in the storage sense): split binary
payloads at content-determined boundaries so shared regions between
near-identical blobs dedup at the chunk level — the rsync/LBFS/FastCDC
technique (Muthitacharoen et al., SOSP'01; Xia et al., ATC'16) used by
backup/dataset stores to dedup large binary artifacts where document-level
digests are useless.

Mechanism: a gear rolling hash h = ((h << 1) + gear[byte]) mod 2^64 over a
sliding window; a boundary fires where (h & avg_mask) == 0, subject to
min/max chunk bounds. An insertion or edit only perturbs boundaries within
one chunk of the edit — downstream chunks re-align (tested), unlike
fixed-size blocks where one inserted byte shifts every subsequent block.

Determinism: the gear table derives from md5 of the byte value, so chunk
boundaries and digests are stable across machines/runs — no RNG state.

Scale shape: pure mapInPandas over payload batches (no shuffle to chunk);
the dedup accounting groupBy shuffles only (digest, length) pairs. This is
not SQL-expressible (per-byte stateful loop), so the driver records the
weaker rows-only check; correctness is pinned by pure-Python differential
tests and the boundary-realignment property test.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime_spark.operators.text import quantize
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# gear table: 64-bit constants per byte value, derived deterministically
_GEAR = [
    int.from_bytes(hashlib.md5(bytes([b])).digest()[:8], "big")
    for b in range(256)
]

_MASK64 = (1 << 64) - 1

# chunk-size bounds (bytes) and the boundary mask width
MIN_SIZE, AVG_BITS, MAX_SIZE = 64, 8, 1024

CHUNK_SCHEMA = StructType(
    [
        StructField("doc", LongType()),
        StructField("chunk_idx", IntegerType()),
        StructField("offset", LongType()),
        StructField("length", LongType()),
        StructField("digest", StringType()),
    ]
)


def chunk_boundaries(payload: bytes) -> list[int]:
    """Content-defined chunk end offsets (exclusive) for one payload.
    AVG_BITS=8 -> expected chunk ~256 bytes (boundary when the low 8 bits
    of the rolling hash are zero)."""
    mask = (1 << AVG_BITS) - 1
    ends = []
    h = 0
    start = 0
    for i, b in enumerate(payload):
        h = ((h << 1) + _GEAR[b]) & _MASK64
        size = i + 1 - start
        if (size >= MIN_SIZE and (h & mask) == 0) or size >= MAX_SIZE:
            ends.append(i + 1)
            start = i + 1
            h = 0
    if start < len(payload):
        ends.append(len(payload))
    return ends


def chunk_payload(payload: bytes) -> list[tuple[int, int, str]]:
    """[(offset, length, md5hex)] for one payload."""
    out = []
    start = 0
    for end in chunk_boundaries(payload):
        out.append(
            (start, end - start, hashlib.md5(payload[start:end]).hexdigest())
        )
        start = end
    return out


def cdc_chunks(df: DataFrame) -> DataFrame:
    """(doc, chunk_idx, offset, length, digest) per content-defined chunk.
    Doc ids must be integral (the fixed CHUNK_SCHEMA carries them as
    bigint); hash string ids to int64 upstream first."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            rows = []
            for doc, p in zip(b["doc"], b["payload"]):
                raw = p if isinstance(p, bytes) else bytes(p)
                for idx, (off, ln, dg) in enumerate(chunk_payload(raw)):
                    rows.append(
                        {
                            "doc": int(doc),
                            "chunk_idx": idx,
                            "offset": off,
                            "length": ln,
                            "digest": dg,
                        }
                    )
            if rows:
                # pd.DataFrame([]) has zero COLUMNS and the Arrow
                # serializer cannot map it onto CHUNK_SCHEMA — a batch of
                # empty payloads must emit nothing, not crash the task
                yield pd.DataFrame(rows)

    return df.select("doc", "payload").mapInPandas(run, CHUNK_SCHEMA)


def chunk_dedup_stats(chunks: DataFrame) -> DataFrame:
    """Corpus-level chunk-dedup accounting: one row —
    (n_chunks, n_distinct, total_bytes, distinct_bytes, dedup_ratio_q4).
    distinct_bytes counts each digest's length once (the store cost after
    chunk-level dedup); ratio = distinct/total quantized to 4dp."""
    per_digest = chunks.groupBy("digest").agg(
        F.count(F.lit(1)).alias("refs"),
        F.max("length").alias("length"),
    )
    totals = chunks.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("length").alias("total_bytes"),
    )
    distinct = per_digest.agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum("length").alias("distinct_bytes"),
    )
    joined = totals.crossJoin(distinct)
    ratio = F.col("distinct_bytes").cast("double") / F.col(
        "total_bytes"
    ).cast("double")
    return joined.select(
        "n_chunks",
        "n_distinct",
        F.col("total_bytes").cast("bigint").alias("total_bytes"),
        F.col("distinct_bytes").cast("bigint").alias("distinct_bytes"),
        quantize(ratio, 4).alias("dedup_ratio"),
    )
