"""Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
algorithm): k-gram hashes, one selected minimum per sliding window of w
consecutive grams, fingerprint set = distinct selected hashes.

Why alongside MinHash: winnowing gives a POSITIONAL guarantee — any shared
substring of length >= w + k - 1 tokens contributes at least one common
fingerprint — so it detects contiguous plagiarized/pasted spans that
bag-of-shingles MinHash can dilute away in long documents. Fingerprint
density is ~2/(w+1) of gram count, a tunable corpus-size reduction.

Determinism: gram hash is the engine-stable 60-bit md5 digest (DuckDB
reproduces it bit-for-bit, see operators/sketches.py); within a window the
minimum hash is selected with leftmost-position tie-break (the original
paper picks rightmost — leftmost is the variant whose SQL mirror is
`list_position` of the min, which returns the FIRST occurrence).

Scale shape: gram hashing + window minima are per-row array expressions
(O(n*w) per doc, no shuffle); the fingerprint frame shuffles (doc, 8-byte
hash) pairs only. Pair generation is the same digest-join pattern as
n-gram Jaccard, with the same hot-fingerprint frequency cap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime_spark.operators.dedup import spread_by, tokens_expr


def _gram_hashes_of(toks: Column, k: int) -> Column:
    """60-bit md5 hash per word k-gram of an ALREADY-STAGED token array, in
    position order. `toks` must be a bound column (or cheap expression): it
    is referenced inside the transform lambda, and interpreted higher-order
    lambdas re-evaluate embedded subtrees per ELEMENT — handing a raw
    `tokens_expr(text)` tree here re-tokenizes the document once per gram."""
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: F.conv(
            F.substring(F.md5(F.array_join(F.slice(toks, i, k), " ")), 1, 15),
            16,
            10,
        ).cast("bigint"),
    )
    return F.when(n >= k, grams).otherwise(F.array().cast("array<bigint>"))


def _window_mins_of(grams: Column, w: int) -> Column:
    """Distinct leftmost-min fingerprint per sliding w-window of an
    ALREADY-STAGED gram-hash array (same per-element re-evaluation hazard
    as `_gram_hashes_of`: an embedded gram tree would re-hash every gram —
    and re-tokenize — once per WINDOW, O(n^2 * text) per document)."""
    n = F.size(grams)
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (w - 1), F.lit(1))),
        lambda i: F.array_min(F.slice(grams, i, w)),
    )
    return F.when(n > 0, F.array_distinct(mins)).otherwise(
        F.array().cast("array<bigint>")
    )


def winnow_expr(text: Column, k: int = 3, w: int = 4) -> Column:
    """Distinct winnowed fingerprint hashes of `text` (array<bigint>).
    Documents with at least k tokens but shorter than one full window
    contribute their single overall minimum (one clamped window); documents
    with FEWER than k tokens produce no k-grams and therefore no
    fingerprints at all — they are invisible to winnow_pairs.

    PERF: this single-expression form nests the token array inside the gram
    lambda and the gram array inside the window lambda, so interpreted HOF
    evaluation re-tokenizes per gram and re-hashes per window (no CSE inside
    lambdas — measured 27-90 s per fresh compute at sf0.1 vs 4.7 s staged,
    with a single long-document straggler task owning the tail). Use
    `winnow_fingerprints`, which stages each step as a real projection
    column, anywhere the input is a DataFrame; this form exists for
    expression-position callers and tests only."""
    return _window_mins_of(_gram_hashes_of(tokens_expr(text), k), w)


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """(doc, fp): distinct winnowed fingerprints per document.

    Staged-projection form (bit-identical to exploding `winnow_expr`): the
    token array and the gram-hash array are real projection steps, so each
    is computed once per row — CollapseProject keeps multiply-referenced
    non-cheap aliases staged (the same guarantee `with_detected_lang`
    leans on). The embedded-expression form re-evaluated `tokens_expr`
    per gram and the whole gram array per window; at sf0.1 that was a
    27-90 s fresh compute with one straggler task, vs 4.7 s staged."""
    staged = (
        spread_by(df, id_col)
        .withColumn("__rs_wn_toks", tokens_expr(F.col(text_col)))
        .withColumn("__rs_wn_grams", _gram_hashes_of(F.col("__rs_wn_toks"), k))
    )
    return staged.select(
        F.col(id_col).alias("doc"),
        F.explode(_window_mins_of(F.col("__rs_wn_grams"), w)).alias("fp"),
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate near-dup pairs by winnowed-fingerprint Jaccard overlap.
    Output: (doc_a, doc_b, n_shared, overlap) with doc_a < doc_b and
    overlap = |∩| / |∪| >= threshold. Fingerprints hotter than
    1000 docs are dropped (boilerplate-span skew guard)."""
    fps = winnow_fingerprints(df, id_col, text_col, k, w).persist()
    sizes = fps.groupBy("doc").agg(F.count(F.lit(1)).alias("n_fp"))
    freq_ok = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") <= 1000)
    )
    f = fps.join(freq_ok.select("fp"), "fp", "left_semi")
    a = f.alias("a")
    b = f.alias("b")
    shared = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_fp").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_fp").alias("n_b"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "overlap",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                6,
            ),
        )
        .filter(F.col("overlap") >= threshold)
        .select("doc_a", "doc_b", "n_shared", "overlap")
    )
