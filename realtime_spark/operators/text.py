"""Text analysis operators for large-scale training-data pipelines.

Beyond-reference operators: language-ID (stopword n-gram heuristic), quality
scoring (length/punct/stopword ratios), token counting (whitespace + BPE-ish
regex), and document fingerprinting (rolling hash). All JVM-side expressions
(split/regexp/aggregate) so the hot path stays inside whole-stage codegen; no
Python UDFs.

Scale notes (100 TB design): every operator here is a pure per-row projection
— zero shuffles, pipelined into whatever scan produces the documents. The
only aggregate consumers (corpus language histograms, quality percentiles)
are classic map-side-combine groupBys.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# Tiny per-language stopword tables for the n-gram/stopword language
# heuristic. Real pipelines ship a few hundred entries per language; the
# mechanism (broadcast map -> per-row hit-ratio argmax) is identical.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "pour", "dans", "sur"),
    "zh": ("de", "shi", "bu", "le", "wo", "you", "zai", "ta", "men", "zhe"),
}


def words_expr(text: Column) -> Column:
    """Lowercased whitespace-ish word tokens (non-empty)."""
    return F.filter(F.split(F.lower(text), "[^a-z0-9']+"), lambda t: t != "")


def whitespace_token_count(text: Column) -> Column:
    """Tokens by whitespace split — the cheap count every pipeline reports."""
    return F.size(F.filter(F.split(text, "\\s+"), lambda t: t != ""))


# BPE-ish pre-tokenizer: a word with optional leading space, a number run, or
# a single non-space symbol — the shape GPT-2-style byte-pair encoders use to
# pre-segment before merges.
BPE_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

# score rounding shared by each expression form and its staged projection,
# which must stay bit-identical
LANG_DIGITS, QUALITY_DIGITS = 6, 4


def bpe_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_REGEX), F.lit(0)))


def stopword_ratio(text: Column) -> Column:
    """Fraction of word tokens that are English stopwords."""
    toks = words_expr(text)
    stops = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def _contains_fn(arr: Column):
    # single-arg lambda builder: a default-arg closure would make PySpark
    # treat the captured array as a second lambda parameter
    return lambda t: F.array_contains(arr, t)


def detect_lang(text: Column) -> Column:
    """argmax language by stopword ratio; ties break lexicographically;
    all-zero scores -> 'und' (undetermined), like real lang-ID fallbacks."""
    toks = words_expr(text)
    n = F.size(toks)
    scored = []
    for lang, stops in sorted(STOPWORDS.items()):
        arr = F.array(*[F.lit(s) for s in stops])
        hits = F.size(F.filter(toks, _contains_fn(arr)))
        score = F.round(F.when(n > 0, hits / n).otherwise(F.lit(0.0)), LANG_DIGITS)
        scored.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    # struct compare orders by (score, lang); among max-score entries pick the
    # lexicographically smallest lang for a deterministic tie-break
    maxscore = F.array_max(F.array(*scored)).getField("score")
    winners = F.filter(F.array(*scored), lambda s: s.getField("score") == maxscore)
    first = F.array_min(winners).getField("lang")
    return F.when(maxscore > 0, first).otherwise(F.lit("und"))


def lang_quality_cols(
    df: DataFrame,
    text_col: str = "text",
    lang_out: str = "detected_lang",
    q_out: str = "quality",
) -> DataFrame:
    """Staged lang-ID + quality-score projection: `detect_lang` and
    `quality_score` compute bit-identical values, but as Column expressions
    they re-tokenize per reference — interpreted higher-order lambdas get no
    CSE, so `detect_lang` alone evaluates `words_expr` ~3x per language (the
    scores array is duplicated into max/winners/first). This variant stages
    the token array, the per-language score array, and the max score as real
    projection steps; CollapseProject keeps multiply-referenced non-cheap
    aliases staged, so each is computed once per row.

    Use this on admission-gate hot paths (corpus cleaning, daily ingest)
    where both signals are needed for every candidate document.
    """
    text = F.col(text_col)
    toks = F.col("__rs_lq_toks")
    n = F.size(toks)

    # stage 1: tokenize once
    out = df.withColumn("__rs_lq_toks", words_expr(text))

    # stage 2: per-language score array + quality components (all from __rs_lq_toks)
    scored = []
    for lang, stops in sorted(STOPWORDS.items()):
        arr = F.array(*[F.lit(s) for s in stops])
        hits = F.size(F.filter(toks, _contains_fn(arr)))
        score = F.round(
            F.when(n > 0, hits / n).otherwise(F.lit(0.0)), LANG_DIGITS
        )
        scored.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    stops_en = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    en_hits = F.size(F.filter(toks, _contains_fn(stops_en)))
    stop_ratio = F.when(n > 0, en_hits / n).otherwise(F.lit(0.0))
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wl = F.when(n > 0, total_len / n).otherwise(F.lit(0.0))
    len_score = F.least(n.cast("double"), F.lit(100.0)) / 100.0
    stop_score = F.least(stop_ratio * 5.0, F.lit(1.0))
    wl_score = F.greatest(
        F.lit(0.0), F.least(F.lit(1.0), 1.0 - F.abs(wl - 5.0) / 10.0)
    )
    raw = (
        0.3 * len_score
        + 0.3 * (1.0 - punct_ratio(text))
        + 0.2 * stop_score
        + 0.2 * wl_score
    )
    scale = float(10**QUALITY_DIGITS)
    out = out.withColumn("__rs_lq_scores", F.array(*scored)).withColumn(
        q_out, F.floor(raw * scale + F.lit(0.5)) / F.lit(scale)
    )

    # stage 3: max score over the staged array
    out = out.withColumn(
        "__rs_lq_max", F.array_max(F.col("__rs_lq_scores")).getField("score")
    )

    # stage 4: deterministic argmax (same tie-break as detect_lang)
    winners = F.filter(
        F.col("__rs_lq_scores"), lambda s: s.getField("score") == F.col("__rs_lq_max")
    )
    first = F.array_min(winners).getField("lang")
    out = out.withColumn(
        lang_out, F.when(F.col("__rs_lq_max") > 0, first).otherwise(F.lit("und"))
    )
    return out.drop("__rs_lq_toks", "__rs_lq_scores", "__rs_lq_max")


def with_detected_lang(
    df: DataFrame,
    text_col: str = "text",
    lang_out: str = "detected_lang",
) -> DataFrame:
    """Staged projection form of `detect_lang` (bit-identical values): the
    expression form re-evaluates `words_expr` per reference — interpreted
    higher-order lambdas get no CSE, so one detect_lang call tokenizes the
    text ~3x per language (measured ~4 ms/row at fixture text lengths, the
    whole wall of a lang-keyed aggregate). Here the token array, the
    per-language score array, and the max score are real projection steps
    (CollapseProject keeps multiply-referenced non-cheap aliases staged),
    so each is computed once per row — the lang-id half of
    `lang_quality_cols` without the quality columns.
    """
    text = F.col(text_col)
    toks = F.col("__rs_dl_toks")
    n = F.size(toks)
    out = df.withColumn("__rs_dl_toks", words_expr(text))
    scored = []
    for lang, stops in sorted(STOPWORDS.items()):
        arr = F.array(*[F.lit(s) for s in stops])
        hits = F.size(F.filter(toks, _contains_fn(arr)))
        score = F.round(
            F.when(n > 0, hits / n).otherwise(F.lit(0.0)), LANG_DIGITS
        )
        scored.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    out = out.withColumn("__rs_dl_scores", F.array(*scored))
    out = out.withColumn(
        "__rs_dl_max", F.array_max(F.col("__rs_dl_scores")).getField("score")
    )
    winners = F.filter(
        F.col("__rs_dl_scores"),
        lambda s: s.getField("score") == F.col("__rs_dl_max"),
    )
    first = F.array_min(winners).getField("lang")
    out = out.withColumn(
        lang_out, F.when(F.col("__rs_dl_max") > 0, first).otherwise(F.lit("und"))
    )
    return out.drop("__rs_dl_toks", "__rs_dl_scores", "__rs_dl_max")


def with_quality_score(
    df: DataFrame,
    text_col: str = "text",
    q_out: str = "quality",
) -> DataFrame:
    """Staged projection form of `quality_score` (bit-identical values) —
    the quality half of `lang_quality_cols`: the expression form
    re-tokenizes per reference (n, stopword_ratio, mean_word_len each
    re-derive the token array through interpreted HOF lambdas); here the
    token array is staged once and every component reads it."""
    text = F.col(text_col)
    toks = F.col("__rs_q_toks")
    n = F.size(toks)
    out = df.withColumn("__rs_q_toks", words_expr(text))
    stops_en = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    en_hits = F.size(F.filter(toks, _contains_fn(stops_en)))
    stop_ratio = F.when(n > 0, en_hits / n).otherwise(F.lit(0.0))
    total_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wl = F.when(n > 0, total_len / n).otherwise(F.lit(0.0))
    len_score = F.least(n.cast("double"), F.lit(100.0)) / 100.0
    stop_score = F.least(stop_ratio * 5.0, F.lit(1.0))
    wl_score = F.greatest(
        F.lit(0.0), F.least(F.lit(1.0), 1.0 - F.abs(wl - 5.0) / 10.0)
    )
    raw = (
        0.3 * len_score
        + 0.3 * (1.0 - punct_ratio(text))
        + 0.2 * stop_score
        + 0.2 * wl_score
    )
    scale = float(10**QUALITY_DIGITS)
    out = out.withColumn(q_out, F.floor(raw * scale + F.lit(0.5)) / F.lit(scale))
    return out.drop("__rs_q_toks")


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are neither alphanumeric nor whitespace."""
    stripped = F.regexp_replace(text, "[A-Za-z0-9\\s]", "")
    return F.when(
        F.length(text) > 0, F.length(stripped) / F.length(text)
    ).otherwise(F.lit(0.0))


def mean_word_len(text: Column) -> Column:
    toks = words_expr(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quantize(x: Column, digits: int = 4) -> Column:
    """Engine-agnostic decimal quantization: floor(x*10^d + 0.5)/10^d.

    Spark's round() is HALF_UP on the double's exact binary expansion while
    DuckDB rounds via scaled floats — they disagree when a value lands
    exactly on a .5 boundary. floor over identical left-to-right IEEE ops is
    bit-stable across engines; the oracle mirrors the same expression.
    """
    scale = float(10**digits)
    return F.floor(x * scale + F.lit(0.5)) / F.lit(scale)


def char_entropy(df, id_col: str, text_col: str):
    """Shannon entropy of the per-document character distribution (bits):
    (id, n_chars_counted, entropy). Low entropy flags repetitive/gibberish
    text (a CCNet-style quality signal) orthogonal to the stopword/punct
    heuristics in quality_score.

    Shape: explode to (doc, char) -> map-side-combined counts -> per-doc
    fold H = log2(N) - (1/N) * sum(cnt * log2(cnt)). Shuffles carry only
    (doc, char, cnt) aggregates. The cross-term sum commutes to ~1e-15;
    results are quantized to 4 digits, which both engines reproduce.
    """
    chars = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), ""), lambda c: c != "")
        ).alias("ch"),
    )
    counts = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = counts.groupBy(id_col).agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.log2("cnt")).alias("s"),
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n").alias("n_chars_counted"),
        quantize(F.log2("n") - F.col("s") / F.col("n")).alias("entropy"),
    )


def compression_ratio(df, id_col: str, text_col: str):
    """Per-document zlib compression ratio (compressed/raw bytes): a
    classic corpus-quality signal — ratios near 0 flag pathological
    repetition, near/above 1 flag high-entropy noise (base64 blobs,
    minified data). Natural prose sits in a stable band.

    zlib at a fixed level is deterministic across runs and platforms (same
    library version), but NOT expressible in SQL — the driver records this
    query under the weaker rows-only check; the distribution contract is
    pinned by tests instead. Arrow-batched pandas UDF: one Python pass per
    batch, no shuffle, output is fixed-width (id, n_raw, n_compressed,
    ratio).
    """
    import zlib

    scale = 10.0 ** 4

    @pandas_udf("struct<n_raw:bigint,n_compressed:bigint,ratio:double>")
    def _ratio(texts: pd.Series) -> pd.DataFrame:
        raws, comps, ratios = [], [], []
        for t in texts:
            b = (t or "").encode("utf-8")
            c = len(zlib.compress(b, 6))
            raws.append(len(b))
            comps.append(c)
            ratios.append(
                (int(c * scale / len(b) + 0.5) / scale) if b else None
            )
        return pd.DataFrame({"n_raw": raws, "n_compressed": comps, "ratio": ratios})

    out = df.select(F.col(id_col), _ratio(F.col(text_col)).alias("_r"))
    return out.select(
        id_col,
        F.col("_r.n_raw").alias("n_raw"),
        F.col("_r.n_compressed").alias("n_compressed"),
        F.col("_r.ratio").alias("ratio"),
    )


def quality_score(text: Column) -> Column:
    """Composite document-quality heuristic in [0, 1].

    score = 0.3*len_score + 0.3*(1 - punct_ratio) + 0.2*stopword_score
          + 0.2*word_len_score
    len_score      = min(n_words, 100)/100        (reward non-trivial length)
    stopword_score = min(stop_ratio*5, 1)         (natural text has stopwords)
    word_len_score = 1 - |mean_word_len - 5|/10 clamped to [0,1]
    """
    toks = words_expr(text)
    n = F.size(toks)
    len_score = F.least(n.cast("double"), F.lit(100.0)) / 100.0
    p_ratio = punct_ratio(text)
    stop_score = F.least(stopword_ratio(text) * 5.0, F.lit(1.0))
    wl = mean_word_len(text)
    wl_score = F.greatest(
        F.lit(0.0), F.least(F.lit(1.0), 1.0 - F.abs(wl - 5.0) / 10.0)
    )
    # floor(x*10^d + 0.5)/10^d instead of round(): Spark rounds HALF_UP on the
    # double's exact binary expansion while DuckDB rounds via scaled float —
    # they disagree when the score lands exactly on a .5 boundary (e.g.
    # 0.59925). floor of identical IEEE arithmetic is engine-agnostic.
    scale = float(10**QUALITY_DIGITS)
    raw = 0.3 * len_score + 0.3 * (1.0 - p_ratio) + 0.2 * stop_score + 0.2 * wl_score
    return F.floor(raw * scale + F.lit(0.5)) / F.lit(scale)


def content_fingerprint(text: Column) -> Column:
    """Whole-document fingerprint over normalized tokens: md5 of the
    space-joined lowercased words — whitespace/punct-insensitive identity."""
    return F.md5(F.array_join(words_expr(text), " "))


def rolling_fingerprint(text: Column) -> Column:
    """Winnowing-style rolling fingerprint: minimum hash over all character
    8-gram digests of the normalized text. Local edits perturb only nearby
    8-grams, so near-identical documents usually share the min digest.

    NOTE: the lambda references `text`-derived `norm` per gram; interpreted
    HOFs have no CSE, so this expression re-normalizes per gram — O(n^2) per
    row. Use :func:`fingerprints` (exchange-barrier form) on real corpora.
    """
    norm = F.array_join(words_expr(text), " ")
    n = F.length(norm)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 7, F.lit(1))),
        lambda i: F.md5(F.substring(norm, i, 8)),
    )
    return F.array_min(grams)


def fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 8
) -> DataFrame:
    """(id, fp, rfp): content + rolling fingerprints, computing the
    normalized text exactly once per document.

    The normalize projection sits below a hash repartition on the id; the
    exchange is an optimizer barrier, so CollapseProject cannot substitute
    the normalize expression into every k-gram lambda (which would make the
    rolling hash O(n^2) per row). At scale this materialized normalize pass
    is the standard "canonicalize once, fingerprint many" pipeline shape.
    """
    norm_df = df.select(
        F.col(id_col).alias("doc_id"),
        F.array_join(words_expr(F.col(text_col)), " ").alias("norm"),
    ).repartition(F.col("doc_id"))
    n = F.length(F.col("norm"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: F.md5(F.substring(F.col("norm"), i, k)),
    )
    return norm_df.select(
        "doc_id",
        F.md5(F.col("norm")).alias("fp"),
        F.array_min(grams).alias("rfp"),
    )


def pack_by_token_budget(
    df,
    id_col: str,
    token_col: str,
    budget: int,
    partition_col: str | None = None,
):
    """Sequence packing for training-data batching: documents are laid out in
    a deterministic order (hash of the id — stable under repartitioning) and
    chunked into packs of ~`budget` tokens, concat-then-chunk semantics: a
    pack ends once its running token total reaches the budget, so packs can
    overflow by at most one document (the standard greedy packer).

    pack_id = floor(exclusive_running_token_sum / budget) over the hash order.
    With `partition_col` (e.g. source/shard), packing runs independently per
    partition — at 100 TB that bounds the window to one shuffle on the
    partition key instead of a global total order; omit it only for corpus
    sizes where a single total order is acceptable.

    Output: df + (pack_id bigint, pack_pos bigint), where pack_pos is the
    1-based position WITHIN the pack (the training-sequence offset).
    Deterministic and engine-reproducible (the DuckDB oracle replays the
    same window).
    """
    from pyspark.sql import Window

    from realtime_spark.operators.sampling import hash_bucket

    keys = [partition_col] if partition_col else []
    order = [hash_bucket(F.col(id_col), 2**60).asc(), F.col(id_col).asc()]
    w = (
        Window.partitionBy(*keys).orderBy(*order)
        if keys
        else Window.partitionBy(F.lit(1)).orderBy(*order)
    )
    cum_excl = F.coalesce(
        F.sum(F.col(token_col)).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("bigint"),
    )
    pack = F.floor(cum_excl / F.lit(budget)).cast("bigint")
    out = df.withColumn("pack_id", pack)
    # intra-pack offset needs its own window keyed by the pack id — a
    # global row_number here would be the position in the whole packing
    # order, a trap for consumers using pack_pos as the sequence offset
    wp = Window.partitionBy(*keys, F.col("pack_id")).orderBy(*order)
    return out.withColumn("pack_pos", F.row_number().over(wp).cast("bigint"))


def chunk_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping token-window chunking — the context-window prep step that
    turns long documents into model-sized training sequences (stride <
    chunk_size gives the standard overlapping windows; stride == chunk_size
    gives disjoint blocks).

    Chunk starts are 1, 1+stride, ... up to the last start that still
    reaches past the tail: n_chunks = 1 + ceil((n - chunk_size) / stride)
    (1 for n <= chunk_size), so every token is covered and the final chunk
    may be short. Map-only — tokenize, explode the start sequence, slice;
    no shuffle, scales linearly with corpus bytes. Empty docs emit nothing.

    Output: (id, chunk_idx, start_tok, n_chunk_tokens, chunk_text).
    """
    if stride > chunk_size:
        # a stride past the chunk size silently leaves token gaps while
        # the contract promises full coverage
        raise ValueError(f"stride ({stride}) must be <= chunk_size ({chunk_size})")
    from realtime_spark.operators.dedup import tokens_expr

    n = F.col("_n")
    # integer ceil((n - chunk)/stride) via (x + stride - 1) div stride;
    # floor() is exact here (values far below 2^53)
    n_chunks = F.when(n <= chunk_size, F.lit(1)).otherwise(
        F.lit(1) + F.floor((n - chunk_size + (stride - 1)) / F.lit(stride))
    )
    base = df.select(
        F.col(id_col),
        tokens_expr(F.col(text_col)).alias("_toks"),
    ).withColumn("_n", F.size("_toks")).filter(n > 0)
    exploded = base.select(
        id_col,
        "_toks",
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias("chunk_idx"),
    )
    start = (F.col("chunk_idx") * stride + 1).cast("int")
    piece = F.slice(F.col("_toks"), start, chunk_size)
    return exploded.select(
        id_col,
        "chunk_idx",
        start.alias("start_tok"),
        F.size(piece).alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


_URL_RE = r"https?://[^ \t\n\r]+"


def extract_urls(text: Column) -> Column:
    """All http(s) URLs in a document (JVM regex, no UDF)."""
    return F.regexp_extract_all(text, F.lit(_URL_RE), 0)


def url_domain(url: Column) -> Column:
    """Lowercased host of a URL (the unit of web-corpus curation: per-domain
    caps, blocklists, licensing tiers all key on it)."""
    return F.lower(F.regexp_extract(url, r"https?://([^/ \t\n\r:]+)", 1))


def domain_stats(
    df: DataFrame, id_col: str, text_col: str, blocklist: Sequence[str] = ()
) -> DataFrame:
    """Per-domain accounting over extracted URLs: (domain, n_urls, n_docs,
    blocked). Explode -> one map-side-combined groupBy on the domain; the
    blocklist is a plan literal (array_contains), not a join — web-scale
    blocklists would broadcast-join instead. Drives per-domain caps and
    removal lists in a crawl-curation pipeline."""
    urls = df.select(
        F.col(id_col).alias("_id"), F.explode(extract_urls(F.col(text_col))).alias("_u")
    )
    doms = urls.select("_id", url_domain(F.col("_u")).alias("domain"))
    bl = F.array(*[F.lit(b) for b in blocklist])
    return (
        doms.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("_id").alias("n_docs"),
        )
        .withColumn("blocked", F.array_contains(bl, F.col("domain")))
    )


def ngrams_expr(text: Column, n: int = 2) -> Column:
    """All word n-grams (non-distinct — frequency analysis wants counts)."""
    toks = words_expr(text)
    cnt = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(cnt - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(cnt >= n, grams).otherwise(F.array().cast("array<string>"))


def top_ngrams(
    df,
    text_col: str,
    n: int = 3,
    k: int = 10,
    by: str | None = None,
):
    """Corpus statistics: the k most frequent word n-grams, optionally per
    group (language/source). Shape: explode -> hash-agg count (map-side
    combined, so the shuffle carries (gram, partial_count), never documents)
    -> per-group top-k window over the tiny aggregated frame. Ties broken by
    gram text for cross-engine determinism. Output: [by,] ngram, n_occur,
    rank.
    """
    from pyspark.sql import Window

    keys = [by] if by else []
    grams = df.select(
        *keys, F.explode(ngrams_expr(F.col(text_col), n)).alias("ngram")
    )
    counts = grams.groupBy(*keys, "ngram").agg(F.count(F.lit(1)).alias("n_occur"))
    w = Window.partitionBy(*keys).orderBy(F.desc("n_occur"), F.asc("ngram"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def corpus_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    ps: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-group exact percentiles (linear interpolation) of a numeric
    column — corpus length/quality distribution profiling.

    Exact `percentile`, not `approx_percentile`: the oracle (DuckDB
    quantile_cont) interpolates identically, and at 100 TB the per-group
    sorted-counts aggregation is still map-side combined on the value
    (percentile's buffer is a value->count map, merged across partitions —
    the shuffle carries group cardinality x distinct values, not rows).
    Swap to approx_percentile(err) for truly high-cardinality value domains.
    """
    pct = F.expr(
        f"percentile({value_col}, array({', '.join(str(p) for p in ps)}))"
    )
    aggs = [F.count(F.lit(1)).alias("n_rows"), pct.alias("_pct")]
    out = df.groupBy(*group_cols).agg(*aggs)
    for i, p in enumerate(ps):
        name = f"p{str(p)[2:].ljust(2, '0')}_{value_col}"
        out = out.withColumn(name, quantize(F.col("_pct")[i]))
    return out.drop("_pct")


# ---------------------------------------------------------------------------
# PII redaction + repetition signal (corpus-cleaning projections)
# ---------------------------------------------------------------------------

# deliberately simple, fully regex-expressible patterns so the scrub stays
# JVM-side and the oracle can mirror it; production pipelines swap richer
# pattern sets into the same projection
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    # uuid BEFORE phone: an all-digit uuid ('12345678-1234-...') is a valid
    # phone-pattern match, and the phone pass would consume it first
    ("uuid", r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"),
    ("phone", r"\+?[0-9][0-9()\-\s]{7,}[0-9]"),
)


def redact_pii(text: Column) -> Column:
    """Replace each PII pattern with a <TYPE> token, applied in declaration
    order (email before phone so the digits of a mailbox never half-match;
    uuid before phone so digit-only uuids keep their type).
    Pure regexp_replace chain: zero shuffle, whole-stage codegen."""
    out = text
    for name, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out


def pii_counts(text: Column) -> Column:
    """map<type, count> of PII hits (pre-redaction audit metric)."""
    entries = [
        F.struct(
            F.lit(name).alias("k"),
            F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0))).alias("v"),
        )
        for name, pat in PII_PATTERNS
    ]
    return F.map_from_entries(F.array(*entries))


def repetition_ratio(text: Column) -> Column:
    """1 - distinct_tokens/tokens: near-1 means heavily repeated content
    (boilerplate, keyword stuffing) — a standard corpus-quality gate next to
    quality_score. Empty docs -> 0. Tokenization matches dedup.tokens_expr
    (the SQL_TOKS mirror), not words_expr (which keeps apostrophes)."""
    from realtime_spark.operators.dedup import tokens_expr

    toks = tokens_expr(text)
    n = F.size(toks)
    ratio = F.when(
        n > 0, 1.0 - F.size(F.array_distinct(toks)) / n
    ).otherwise(F.lit(0.0))
    return quantize(ratio)


def unicode_normalize_cols(text: Column) -> Column:
    """Arrow-batched Unicode hygiene: struct(raw_len, nfc, nfc_len,
    stripped) — NFC composition plus NFKD-based accent stripping (drop
    combining marks), the standard pre-tokenization normalization of web
    corpora. A pandas UDF because the JVM exposes no normalizer function;
    the per-batch python cost is one normalize pass per string (no
    per-char Python loop: unicodedata works on whole strings).
    """
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    import pandas as pd

    @pandas_udf("struct<raw_len:int,nfc:string,nfc_len:int,stripped:string>")
    def _norm(col: pd.Series) -> pd.DataFrame:
        raw_len, nfcs, nfc_len, stripped = [], [], [], []
        for s in col:
            if s is None:
                raw_len.append(None); nfcs.append(None)
                nfc_len.append(None); stripped.append(None)
                continue
            n = unicodedata.normalize("NFC", s)
            st = "".join(
                c for c in unicodedata.normalize("NFKD", n)
                if not unicodedata.combining(c)
            )
            raw_len.append(len(s)); nfcs.append(n)
            nfc_len.append(len(n)); stripped.append(st)
        return pd.DataFrame(
            {"raw_len": pd.array(raw_len, dtype="Int32"), "nfc": nfcs,
             "nfc_len": pd.array(nfc_len, dtype="Int32"), "stripped": stripped}
        )

    return _norm(text)


# ---------------------------------------------------------------------------
# linear quality classifier (integer logit) + Luhn checksum validation
# ---------------------------------------------------------------------------


def quality_feature_cols(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Integer feature extraction for a linear document-quality classifier
    (the fastText-filter-grade shape used by CCNet/GPT-3-style curation,
    with hand-set instead of learned weights): word count, stopword hits,
    long-word count, punctuation chars, digit chars. Tokenizes once via a
    staged projection (see lang_quality_cols for why staging matters) and
    emits only exact integers, so any downstream weighted sum is
    oracle-exact."""
    text = F.col(text_col)
    toks = F.col("__rs_qf_toks")
    out = df.withColumn("__rs_qf_toks", words_expr(text))
    stops = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    out = out.withColumns(
        {
            "qf_words": F.size(toks).cast("bigint"),
            "qf_stop": F.size(F.filter(toks, _contains_fn(stops))).cast(
                "bigint"
            ),
            "qf_long": F.size(
                F.filter(toks, lambda t: F.length(t) > 7)
            ).cast("bigint"),
            "qf_punct": F.length(
                F.regexp_replace(text, "[A-Za-z0-9\\s]", "")
            ).cast("bigint"),
            "qf_digits": F.length(
                F.regexp_replace(text, "[^0-9]", "")
            ).cast("bigint"),
        }
    )
    return out.drop("__rs_qf_toks")


# micro-unit weights: reward stopword evidence and moderate length, punish
# punctuation/digit soup — hand-set to split the synthetic corpus, the
# MECHANISM (integer dot product -> threshold) is the operator under test
QUALITY_LOGIT_WEIGHTS = {
    "bias": -650_000,  # ~= corpus median of the positive terms -> ~50/50 split
    "words": 5_000,
    "stop": 120_000,
    "long": -10_000,
    "punct": -40_000,
    "digits": -30_000,
}


def quality_logit_micro() -> Column:
    """logit_micro = bias + Σ w_i * f_i over the quality_feature_cols
    outputs — one exact bigint per row; classify with logit_micro > 0.
    Inference is a pure projection: at 100 TB the classifier adds zero
    shuffles and stays inside whole-stage codegen."""
    w = QUALITY_LOGIT_WEIGHTS
    return (
        F.lit(w["bias"])
        + F.col("qf_words") * w["words"]
        + F.col("qf_stop") * w["stop"]
        + F.col("qf_long") * w["long"]
        + F.col("qf_punct") * w["punct"]
        + F.col("qf_digits") * w["digits"]
    ).cast("bigint")


def luhn_valid_expr(digits: Column) -> Column:
    """Luhn checksum over a digit string (credit-card validation): from the
    RIGHT, double every second digit, subtract 9 when the double exceeds 9,
    sum, valid iff sum % 10 == 0. Pure array expressions (reverse +
    indexed transform + aggregate) — JVM-side, and replayed exactly by the
    SQL oracle. Used to cut PII-redaction false positives: a 16-digit run
    that fails Luhn is an ID/timestamp, not a card number."""
    rev = F.reverse(digits)
    n = F.length(digits)
    vals = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: rev.substr(i, F.lit(1)).cast("int"),
    )
    summed = F.aggregate(
        F.zip_with(
            vals,
            F.sequence(F.lit(1), n),
            lambda v, i: F.when(
                i % 2 == 0, F.when(v * 2 > 9, v * 2 - 9).otherwise(v * 2)
            ).otherwise(v),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (n > 0) & (summed % 10 == 0)
