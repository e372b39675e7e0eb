"""Keyword search over a document corpus: inverted-index postings + BM25
ranking, expressed as pure DataFrame aggregations.

Beyond-reference training-data operator (the reference has no text search;
its only text predicates are the filter ops, SURVEY §2.2 P2). A corpus
pipeline needs keyword retrieval for decontamination probes, quality audits,
and eval-set curation, so it is built here on the same explode -> codegen'd
aggregation shape as the dedup operators.

Scale shape (100 TB):
  - postings = explode(tokens) -> groupBy(doc, term) count: map-side
    combine collapses each document's repeated terms before the shuffle, so
    the exchange carries ~|distinct (doc,term)| not |tokens|.
  - Query-time scoring filters postings to the query's terms FIRST (a
    handful of terms -> the shuffle after the filter is tiny), then joins
    per-term document frequencies and per-doc lengths. Corpus-level scalars
    (N, avgdl) ride along as a broadcast single-row frame.
  - For a standing index, persist `postings(df)` partitioned by term
    (write once, prune per query) — the same pattern as the persisted IVF
    index in similarity.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime_spark.operators.dedup import spread_by, tokens_expr


def postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: Sequence[str] | None = None,
) -> DataFrame:
    """Inverted-index postings: (term, doc, tf). With `terms`, only those
    terms' postings are built — the filter sits between the explode and the
    aggregation, so a 3-term query aggregates 3 terms' tokens instead of
    the whole corpus vocabulary."""
    toks = spread_by(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(tokens_expr(F.col(text_col))).alias("term"),
    )
    if terms is not None:
        toks = toks.filter(F.col("term").isin(list(terms)))
    return toks.groupBy("term", "doc").agg(F.count(F.lit(1)).alias("tf"))


def doc_lengths(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc, dl): token count per document (BM25 length normalization)."""
    return spread_by(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.size(tokens_expr(F.col(text_col))).cast("bigint").alias("dl"),
    )


def term_stats(post: DataFrame) -> DataFrame:
    """(term, n_docs, total_tf) — per-term corpus statistics."""
    return post.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tf").alias("total_tf"),
    )


# index bucket contract, shared by writer and reader: a drifted copy would
# prune away the partition holding a query term and silently drop it
INDEX_BUCKETS = 64

# BM25 term-frequency saturation and length normalization; score rounding
K1, B = 1.2, 0.75
DIGITS = 4


def _term_bucket_col(term: Column) -> Column:
    return F.crc32(term) % INDEX_BUCKETS


def _term_bucket_py(term: str) -> int:
    import zlib

    return zlib.crc32(term.encode()) % INDEX_BUCKETS


def _bm25_rank(post, lengths, stats, k):
    """Shared BM25 scoring + top-k tail: the corpus-scan and index paths
    must stay score-identical (same formula, rounding, tie-break), so the
    formula lives exactly once."""
    from pyspark.sql.window import Window

    dfreq = post.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    scored = (
        post.join(dfreq, "term")
        .join(lengths, "doc")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs_total") - F.col("df_t") + 0.5)
                / (F.col("df_t") + 0.5)
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (K1 + 1.0))
            / (
                F.col("tf")
                + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    scores = scored.groupBy("doc").agg(
        F.round(F.sum("contrib"), DIGITS).alias("score"),
        F.count(F.lit(1)).alias("n_terms_matched"),
    )
    # orderBy+limit compiles to TakeOrderedAndProject: each task keeps its
    # local top-k, the driver merges — no single-partition global sort.
    # row_number then ranks only the k surviving rows.
    top = scores.orderBy(F.desc("score"), F.asc("doc")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc", "score", "n_terms_matched", "rank"
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: Sequence[str],
    k: int = 20,
) -> DataFrame:
    """Top-k documents for a bag-of-terms query under BM25.

    idf = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))   (Robertson-Sparck Jones)
    score(d) = sum_t idf_t * tf * (K1+1) / (tf + K1 * (1 - B + B * dl/avgdl))

    Scores are rounded before ranking and ties broken by doc id, so the
    result is engine-stable (the DuckDB oracle replays the same formula).
    """
    terms = [t.lower() for t in query_terms]
    lengths = doc_lengths(df, id_col, text_col)
    stats = lengths.agg(
        F.count(F.lit(1)).alias("n_docs_total"),
        F.avg("dl").alias("avgdl"),
    )
    qpost = postings(df, id_col, text_col, terms=terms)
    return _bm25_rank(qpost, lengths, stats, k)


def build_vocab(
    df: DataFrame, id_col: str, text_col: str, top_n: int = 1000
) -> DataFrame:
    """Tokenizer-prep vocabulary: the top_n corpus terms by frequency
    (ties broken lexicographically). (term, cnt, rank). The count is a
    map-side-combined groupBy; the top-n is TakeOrderedAndProject — no
    global sort of the vocabulary."""
    counts = (
        spread_by(df, id_col)
        .select(F.explode(tokens_expr(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("term")).limit(top_n)
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    return top.withColumn("rank", F.row_number().over(w))


def oov_rate(df: DataFrame, vocab: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against a (broadcast) vocab:
    (doc, n_tokens, n_oov, oov_rate). The vocab is a tokenizer-sized
    dimension (10k-100k terms) — broadcast hash join on the exploded token
    stream, then one groupBy(doc) that reuses the spread partitioning."""
    from realtime_spark.operators.text import quantize

    toks = spread_by(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(tokens_expr(F.col(text_col))).alias("term"),
    )
    hit = toks.join(
        F.broadcast(vocab.select("term", F.lit(1).alias("_in_vocab"))),
        "term",
        "left",
    )
    per_doc = hit.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
    )
    # zero-token docs produce no exploded rows: join the doc universe back
    # so they report (0, 0, NULL rate) instead of vanishing — consistent
    # with doc_lengths, which reports dl=0 for them
    base = df.select(F.col(id_col).alias("doc"))
    return base.join(per_doc, "doc", "left").select(
        "doc",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_oov", F.lit(0)).cast("bigint").alias("n_oov"),
        quantize(
            F.coalesce("n_oov", F.lit(0)) / F.col("n_tokens"), DIGITS
        ).alias("oov_rate"),
    )


def tfidf_weights(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Sparse TF-IDF document vectors as (doc, term, w) rows with the
    per-doc L2 norm attached: (doc, term, w, norm).

    idf = ln(1 + N/df_t) (smoothed: stays positive even for terms present
    in every document, so tiny-vocabulary corpora keep usable norms);
    w = tf * idf.
    """
    from realtime_spark.operators.text import quantize  # noqa: F401 (parity)

    post = postings(df, id_col, text_col)
    n_docs = df.select(F.col(id_col)).agg(F.count(F.lit(1)).alias("n_docs"))
    dfreq = post.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    w = (
        post.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc",
            "term",
            (F.col("tf") * F.log(F.lit(1.0) + F.col("n_docs") / F.col("df_t"))).alias("w"),
        )
    )
    norms = w.groupBy("doc").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"))
    return w.join(norms, "doc")


def tfidf_nearest_neighbor(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_df: int | None = None,
) -> DataFrame:
    """Each document's most-similar other document in TF-IDF space:
    (doc, neighbor, cos). The sparse dot-product join — postings self-joined
    on term, partial products summed — is the standard all-pairs lexical
    similarity shape; `max_df` drops stop-terms to bound the join fan-out
    (essential at corpus scale: a term in d docs contributes d^2 join rows).

    Ties on the quantized cosine break toward the smallest neighbor id, so
    the result is engine-stable.
    """
    from pyspark.sql import Window
    from realtime_spark.operators.text import quantize

    w = tfidf_weights(df, id_col, text_col)
    if max_df is not None:
        keep = (
            w.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df_t"))
            .filter(F.col("df_t") <= max_df)
        )
        w = w.join(keep.select("term"), "term", "left_semi")
        # the norms carried by tfidf_weights cover the UNfiltered vector;
        # reusing them would make 'cos' a cosine of no consistent space
        # (identical docs sharing a dropped stop-term would score < 1)
        norms2 = w.groupBy("doc").agg(
            F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm2")
        )
        w = w.drop("norm").join(norms2, "doc").withColumnRenamed("norm2", "norm")
    a = w.alias("a")
    b = w.alias("b")
    dots = (
        a.join(b, (F.col("a.term") == F.col("b.term")) & (F.col("a.doc") != F.col("b.doc")))
        .groupBy(
            F.col("a.doc").alias("doc"),
            F.col("b.doc").alias("neighbor"),
            F.col("a.norm").alias("na"),
            F.col("b.norm").alias("nb"),
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
        .select(
            "doc",
            "neighbor",
            quantize(F.col("dot") / (F.col("na") * F.col("nb")), DIGITS).alias("cos"),
        )
    )
    rank = Window.partitionBy("doc").orderBy(F.desc("cos"), F.asc("neighbor"))
    return (
        dots.withColumn("_rn", F.row_number().over(rank))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# positional postings + phrase search
# ---------------------------------------------------------------------------


def positional_postings(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(doc, pos, term): token positions (0-based) — the positional inverted
    index phrase and proximity queries need. posexplode keeps the hot path
    JVM-side; the shuffle (if any downstream) carries (doc, pos, term)
    triples, never the document text."""
    return spread_by(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens_expr(F.col(text_col))).alias("pos", "term"),
    )


def phrase_hits(
    post: DataFrame, phrase: Sequence[str]
) -> DataFrame:
    """(doc, n_hits): documents containing the exact token phrase, by
    adjacency self-join of the positional postings.

    Scale shape: each phrase term selects its own (small) postings slice
    BEFORE the join — the join input is |postings of rarest terms|, not the
    corpus. Joins are equi on (doc, pos+offset); with term selectivity the
    planner broadcasts the smaller slices. A k-term phrase is k-1 chained
    equi-joins, the standard positional-index intersection.
    """
    terms = [t.lower() for t in phrase]
    if not terms:
        raise ValueError("phrase_hits: empty phrase")
    cur = post.filter(F.col("term") == terms[0]).select(
        "doc", F.col("pos").alias("p0")
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = post.filter(F.col("term") == t).select(
            F.col("doc").alias("d"), F.col("pos").alias("p")
        )
        cur = cur.join(
            nxt,
            (cur["doc"] == nxt["d"]) & (nxt["p"] == cur["p0"] + i),
            "inner",
        ).select("doc", "p0")
    return cur.groupBy("doc").agg(F.count(F.lit(1)).alias("n_hits"))


# ---------------------------------------------------------------------------
# persisted inverted index: build once, query many (the search sibling of
# write_ivf_index / write_lsh_index)
# ---------------------------------------------------------------------------


def write_postings_index(df: DataFrame, path: str, id_col: str, text_col: str) -> None:
    """Build and persist the full inverted index + document lengths:

      {path}/postings — (term, doc, tf) partitioned by `bucket` =
        crc32(term) % 64, sorted by term within files so a term probe
        prunes to one partition and then row-group-skips on term min/max;
      {path}/doclen — (doc, dl) plus corpus stats rolled into one tiny
        file (n_docs_total, avgdl as a single-row parquet).

    At 100 TB the corpus is tokenized ONCE; every query reads only its
    terms' buckets — the on-disk analog of a search engine's term
    dictionary + postings lists.
    """
    post = postings(df, id_col, text_col).withColumn(
        "bucket", _term_bucket_col(F.col("term"))
    )
    # sort by (bucket, term): the dynamic-partition writer requires a
    # bucket ordering and would insert its OWN sort over a term-only sort,
    # leaving in-file term order to unguaranteed sort stability (and
    # paying two sorts)
    post.repartition("bucket").sortWithinPartitions("bucket", "term").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(f"{path}/postings")
    lengths = doc_lengths(df, id_col, text_col)
    lengths.write.mode("overwrite").parquet(f"{path}/doclen")
    lengths.agg(
        F.count(F.lit(1)).alias("n_docs_total"), F.avg("dl").alias("avgdl")
    ).write.mode("overwrite").parquet(f"{path}/stats")


def bm25_topk_from_index(
    spark,
    path: str,
    query_terms: Sequence[str],
    k: int = 20,
) -> DataFrame:
    """BM25 top-k answered from the persisted index — identical scores to
    bm25_topk over the corpus (same formula, same rounding; oracle-checked)
    but the corpus text is never touched: the scan reads only the query
    terms' bucket partitions (partition pruning on `bucket`, then term
    row-group skipping), the doc-length side joins on doc, and the
    two-value stats file broadcasts."""
    terms = [t.lower() for t in query_terms]
    buckets = sorted({_term_bucket_py(t) for t in terms})
    post = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
        .drop("bucket")
    )
    lengths = spark.read.parquet(f"{path}/doclen")
    stats = spark.read.parquet(f"{path}/stats")
    return _bm25_rank(post, lengths, stats, k)
