"""Token-span exact-substring dedup (Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better", arXiv:2107.06499).

Whole-document and line-level dedup miss verbatim spans embedded in
otherwise-distinct documents (licenses, boilerplate prose, templated
passages). The ExactSubstr approach finds token substrings of length >= w
that occur more than once across the corpus; the suffix-array construction
of the paper collapses, in the bounded-window case, to rolling token
w-gram digests with global first-occurrence retention — which is exactly
relational:

    tokens -> rolling w-token windows (stride 1) -> digest
           -> first occurrence per digest = min(struct(doc, pos))
           -> every later occurrence is a duplicated span

Scale shape (100 TB):
- the window derivation is per-row array work (no shuffle); only
  (digest, doc, pos) triples — 8-byte key + two ids — ever shuffle, never
  text. One shuffle keyed by digest, map-side-combined min(struct).
- per-doc accounting is a second map-side-combined aggregation keyed by
  doc — spans of one doc collapse before the exchange.
- stride-1 windows cost |tokens| rows per doc; production runs at
  w=50 on token ids. The fixture uses w=10 over word tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime_spark.operators.dedup import spread_by, tokens_expr
from realtime_spark.operators.text import quantize


def span_digests(
    df: DataFrame, id_col: str, text_col: str, w: int = 10
) -> DataFrame:
    """(doc, pos, sx): one 60-bit digest per rolling w-token window at each
    token position (1-based). Docs with fewer than w tokens emit no rows."""
    toks = tokens_expr(F.col(text_col))
    n = F.size(toks)
    spans = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (w - 1), F.lit(1))),
        lambda i: F.struct(
            i.alias("pos"), F.array_join(F.slice(toks, i, w), " ").alias("s")
        ),
    )
    rows = spread_by(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.when(n >= w, spans).otherwise(
                F.array().cast("array<struct<pos:int,s:string>>")
            )
        ).alias("sp"),
    )
    return rows.select(
        "doc",
        F.col("sp.pos").alias("pos"),
        F.conv(F.substring(F.md5("sp.s"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("sx"),
    )


def span_dedup_stats(
    df: DataFrame, id_col: str, text_col: str, w: int = 10
) -> DataFrame:
    """Per-document duplicated-span accounting: (doc_id, n_spans,
    n_dup_spans, dup_frac). Docs shorter than w tokens produce no row (they
    contribute no spans). dup_frac is the quality signal used to drop or
    trim documents dominated by verbatim repeats."""
    sp = span_digests(df, id_col, text_col, w).persist()
    firsts = sp.groupBy("sx").agg(F.min(F.struct("doc", "pos")).alias("first"))
    is_dup = (
        (F.col("doc") != F.col("first.doc")) | (F.col("pos") != F.col("first.pos"))
    ).cast("long")
    per_doc = (
        sp.join(firsts, "sx")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(is_dup).alias("n_dup_spans"),
        )
    )
    return per_doc.select(
        F.col("doc").alias(id_col),
        "n_spans",
        "n_dup_spans",
        quantize(F.col("n_dup_spans") / F.col("n_spans"), 4).alias("dup_frac"),
    )
