"""Line/paragraph-level corpus hygiene: boilerplate detection, cross-corpus
first-occurrence line dedup, and cleaned-text reassembly.

Training-data pipelines (C4, Gopher, RefinedWeb) dedupe *within* documents at
line granularity, not just whole-document: navigation chrome, cookie banners
and "all rights reserved" footers repeat across millions of pages, and a
paragraph pasted into many documents should survive only at its first
occurrence. This module provides that stage over any (id, lines) frame; the
test corpus derives lines deterministically from the word-soup documents (see
plans/corpus_lines.py).

Beyond-reference operator family (north star per BASELINE.json §north-star);
the reference engine (supabase/realtime) has no text corpus surface — parity
anchor is the projection/dedup discipline of its CDC pipeline
(lib/realtime/messages.ex replay dedup is the closest analog: drop rows whose
identity was already delivered).

Scale shape (100 TB):
- Explode to lines is narrow (no shuffle); line frames are ~1.3x the corpus.
- Flagging (`line_flags` and everything built on it) groups and joins on the
  line's 60-bit md5 digest — 8-byte shuffle keys, text never shuffles.
  `boilerplate_lines` (the human-facing survivor report) groups on text
  directly: its output is the tiny thresholded set and the grouping is one
  map-side-combined pass.
- First-occurrence keeper = min(struct(doc_id, line_idx)) is a map-side
  combinable aggregate: one shuffle, no window function, no skew risk beyond
  the boilerplate keys themselves (bounded by the same threshold that marks
  them for removal anyway).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime_spark.operators.sampling import hash_bucket

from realtime_spark.operators.dedup import tokens_expr

LINE_TOKENS = 8  # tokens per derived line in the test-corpus chunker


def chunk_lines_expr(text: Column, width: int = LINE_TOKENS) -> Column:
    """Split text into consecutive `width`-token lines (last line ragged).

    Deterministic chunker used to impose line structure on single-line test
    documents; on a real corpus, `split(text, '\\n')` replaces this.
    """
    toks = tokens_expr(text)
    n_lines = F.ceil(F.size(toks) / F.lit(width)).cast("int")
    grams = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(F.slice(toks, i * width + 1, width), " "),
    )
    # guard: Spark sequence(0, -1) DESCENDS; empty text must yield no lines
    return F.when(F.size(toks) > 0, grams).otherwise(
        F.array().cast("array<string>")
    )


def explode_lines(df: DataFrame, id_col: str) -> DataFrame:
    """(doc, line_idx, line) — positional explode, order preserved."""
    return df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.col("lines")).alias("line_idx", "line"),
    )


def boilerplate_lines(lines: DataFrame, min_docs: int = 20) -> DataFrame:
    """Lines appearing in >= min_docs distinct documents: (line, n_docs,
    n_occurrences). The frequency threshold IS the boilerplate definition
    (Gopher uses the same shape with document-frequency cutoffs).
    """
    return (
        lines.groupBy("line")
        .agg(
            F.countDistinct("doc").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= F.lit(min_docs))
    )


def line_flags(lines: DataFrame, min_docs: int = 20) -> DataFrame:
    """Each line occurrence flagged: is_boiler (frequency-thresholded,
    takes precedence) and is_dup (non-boiler line seen earlier at a smaller
    (doc, line_idx) anywhere in the corpus; the first occurrence is kept).

    All grouping/join keys are the line's 60-bit md5 digest, never the line
    text: the stats shuffle and the flag join carry 8-byte keys, and the
    text rides only on the lines frame itself. A digest collision would
    merge two distinct lines (~n²/2^60 — negligible, and the oracle gate
    compares against text-keyed SQL so a real collision would surface as a
    hash mismatch). The boilerplate digest set is tiny -> broadcast.
    """
    keyed = lines.withColumn(
        "_ldig",
        hash_bucket(F.col("line"), 2**60)  # shared 60-bit md5 digest helper,
    )
    stats = keyed.groupBy("_ldig").agg(
        F.countDistinct("doc").alias("n_docs"),
        F.min(F.struct("doc", "line_idx")).alias("keeper"),
    )
    boiler = stats.filter(F.col("n_docs") >= F.lit(min_docs)).select(
        "_ldig", F.lit(True).alias("is_boiler")
    )
    flagged = (
        keyed.join(stats.select("_ldig", "keeper"), "_ldig", "left")
        .join(F.broadcast(boiler), "_ldig", "left")
        .select(
            "doc",
            "line_idx",
            "line",
            F.coalesce(F.col("is_boiler"), F.lit(False)).alias("is_boiler"),
            (
                ~F.coalesce(F.col("is_boiler"), F.lit(False))
                & (F.struct("doc", "line_idx") != F.col("keeper"))
            ).alias("is_dup"),
        )
    )
    return flagged


def line_dedup_stats(lines: DataFrame, min_docs: int = 20) -> DataFrame:
    """Per-document hygiene accounting: (doc, n_lines, n_boiler, n_dup,
    n_kept). n_kept = lines surviving both boilerplate removal and
    first-occurrence dedup; disjoint counts (boilerplate wins)."""
    flagged = line_flags(lines, min_docs)
    return flagged.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("is_boiler").cast("bigint")).alias("n_boiler"),
        F.sum(F.col("is_dup").cast("bigint")).alias("n_dup"),
        F.sum(
            (~F.col("is_boiler") & ~F.col("is_dup")).cast("bigint")
        ).alias("n_kept"),
    )


def clean_text(lines: DataFrame, min_docs: int = 20) -> DataFrame:
    """Reassembled cleaned document: kept lines re-joined in original line
    order. Output (doc, n_kept, clean_md5) — the digest keeps the oracle
    compare cheap and order-sensitive without shipping full text.

    collect_list has no intra-group order guarantee after a shuffle, so the
    struct(line_idx, line) list is array_sort'ed before joining — a per-row
    (not per-partition) sort of a small array, safe at any scale.
    """
    kept = line_flags(lines, min_docs).filter(
        ~F.col("is_boiler") & ~F.col("is_dup")
    )
    assembled = kept.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_idx", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("_text"),
    )
    return assembled.select("doc", "n_kept", F.md5("_text").alias("clean_md5"))
