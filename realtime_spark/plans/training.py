"""Driver-contract queries + DuckDB oracles for the beyond-reference
training-data operators (dedup, similarity search, text analysis,
multimodal plumbing).

Every Spark query runs the real operator from realtime_spark.operators.*;
every oracle re-derives the same result in plain DuckDB SQL over the same
parquet views. Shared hash = md5; shared math = double precision with
identical association order, rounded before comparison.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from realtime_spark.operators.dedup import (
    dedup_exact,
    exact_duplicates,
    jaccard_pairs,
    minhash_lsh_pairs,
    shingle_shared_frac,
    simhash_buckets,
)
from realtime_spark.operators.multimodal import (
    extract_features,
    media_from_documents,
    sample_frames,
)
from realtime_spark.operators.similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    ivf_topk,
)
from realtime_spark.operators.text import (
    bpe_token_count,
    content_fingerprint,
    detect_lang,
    quality_score,
    rolling_fingerprint,
    whitespace_token_count,
)
from realtime_spark.sources.testdata import ORDERS_CHANGES_SQL_CTE, load_table

# ---------------------------------------------------------------------------
# dedup corpus: documents + injected exact/near duplicates (deterministic,
# mirrored by the _docs_dup CTE)
# ---------------------------------------------------------------------------

NEAR_DUP_TAIL = " near dup tail marker"


def docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near = d.filter(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(NEAR_DUP_TAIL)).alias("text"),
    )
    return d.unionByName(exact).unionByName(near)


DOCS_DUP_CTE = f"""
_docs_dup AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000, text || '{NEAR_DUP_TAIL}' FROM documents WHERE doc_id % 10 = 1
)
"""

# shared SQL fragments mirroring dedup.tokens_expr / shingles_expr (k=3)
SQL_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
# mirror of text.words_expr — KEEPS apostrophes ([^a-z0-9']+ split). The
# text.py lang/quality/fingerprint family tokenizes with words_expr, NOT
# tokens_expr; their oracles must use this fragment or they silently diverge
# on any corpus containing apostrophes (the synthetic fixture has none,
# which masked exactly that divergence until round 4).
_SQL_WORDS = "list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'), x -> x <> '')"


def _sql_shingles(k: int = 3) -> str:
    return (
        f"CASE WHEN len(toks) >= {k} THEN list_distinct(list_transform("
        f"range(1, greatest(len(toks) - {k - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice(toks, i, i + {k - 1}), ' '))) "
        f"ELSE [] END"
    )


# -- exact dedup ------------------------------------------------------------


def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_with_dups(spark, sf_dir)
    g = exact_duplicates(d, "doc_id", "text")
    return g.select(
        "digest",
        "canonical_id",
        "n_dups",
        F.array_join(F.transform("ids", lambda x: x.cast("string")), ",").alias("ids"),
    )


ORACLE_DEDUP_EXACT_GROUPS = f"""
WITH {DOCS_DUP_CTE.strip()}
SELECT md5(text) AS digest, MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_dups,
       array_to_string(list_sort(list(doc_id)), ',') AS ids
FROM _docs_dup GROUP BY 1 HAVING COUNT(*) > 1
"""


def q_dedup_exact_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_with_dups(spark, sf_dir)
    return dedup_exact(d, "doc_id", "text").select("doc_id")


ORACLE_DEDUP_EXACT_KEEP = f"""
WITH {DOCS_DUP_CTE.strip()}
SELECT MIN(doc_id) AS doc_id FROM _docs_dup GROUP BY md5(text)
"""


# -- n-gram Jaccard ---------------------------------------------------------


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_with_dups(spark, sf_dir)
    return jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.5)


# the jaccard-pair derivation as a reusable CTE chain (also feeds the
# duplicate-cluster oracle below)
_JACCARD_CTES = f"""
{DOCS_DUP_CTE.strip()},
t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM _docs_dup),
sh0 AS (
  SELECT doc_id AS doc, unnest({_sql_shingles(3)}) AS shingle FROM t
),
sh AS (
  SELECT doc, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS sx FROM sh0
),
freq_ok AS (SELECT sx FROM sh GROUP BY 1 HAVING COUNT(*) <= 1000),
shf AS (SELECT sh.* FROM sh JOIN freq_ok USING (sx)),
sizes AS (SELECT doc, COUNT(*) AS n_sh FROM shf GROUP BY 1),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_inter
  FROM shf a JOIN shf b ON a.sx = b.sx AND a.doc < b.doc
  GROUP BY 1, 2
),
jpairs AS (
  SELECT doc_a, doc_b,
         round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc = doc_a
  JOIN sizes sb ON sb.doc = doc_b
  WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.5
)
"""

# The recursive-closure oracles below scan `edges` (and through it the
# whole jaccard chain) on EVERY recursion iteration; DuckDB 1.0 does not
# materialize CTEs referenced from inside a recursive query, so at sf1 the
# 3-minute jpairs pipeline re-evaluated per iteration and spilled past any
# temp cap. AS MATERIALIZED pins jpairs/edges to one evaluation (63 s at
# sf1 under a 12 GiB cap; value-identical output on all corpora).
_JACCARD_CTES_MAT = _JACCARD_CTES.replace(
    "jpairs AS (", "jpairs AS MATERIALIZED ("
)

_EDGES_MAT_CTE = """
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM jpairs
  UNION
  SELECT doc_b, doc_a FROM jpairs
)"""

ORACLE_DEDUP_JACCARD = f"""
WITH {_JACCARD_CTES.strip()}
SELECT doc_a, doc_b, jaccard FROM jpairs
"""


def q_ngram_shared_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric cross-document n-gram share (operators/dedup.py
    shingle_shared_frac docstring has the linear-exchange argument): per doc,
    distinct-shingle count, corpus-shared-shingle count, and the shared
    fraction — the memorization-risk signal pairwise Jaccard misses when
    boilerplate is spread across MANY docs with no single pair above
    threshold, and that the order-dependent ngram_novelty (first-occurrence
    attribution, plans/behavior.py) misses on the FIRST copy."""
    d = docs_with_dups(spark, sf_dir)
    return shingle_shared_frac(d, "doc_id", "text", k=3)


# same shingle derivation as _JACCARD_CTES but WITHOUT the stop-shingle cap:
# novelty must count hot shingles (they are exactly the shared ones)
ORACLE_NGRAM_SHARED = f"""
WITH {DOCS_DUP_CTE.strip()},
t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM _docs_dup),
sh0 AS (SELECT doc_id AS doc, unnest({_sql_shingles(3)}) AS shingle FROM t),
sh AS (SELECT doc, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS sx FROM sh0),
freq AS (SELECT sx, COUNT(*) AS df_docs FROM sh GROUP BY 1),
per AS (
  SELECT doc, COUNT(*) AS n_shingles,
         SUM(CASE WHEN df_docs >= 2 THEN 1 ELSE 0 END) AS n_shared
  FROM sh JOIN freq USING (sx) GROUP BY 1
)
SELECT d.doc_id,
       CAST(COALESCE(per.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(COALESCE(per.n_shared, 0) AS BIGINT) AS n_shared,
       CASE WHEN per.n_shingles > 0
            THEN round(per.n_shared / per.n_shingles, 6) END AS shared_frac
FROM _docs_dup d LEFT JOIN per ON per.doc = d.doc_id
"""


# -- duplicate clustering (connected components over the pair graph) --------


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A~B, B~C collapse to one cluster even though A~C was never scored:
    iterative min-label propagation (dedup.duplicate_clusters) over the
    jaccard pair graph."""
    from realtime_spark.operators.dedup import duplicate_clusters

    d = docs_with_dups(spark, sf_dir)
    pairs = jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.5)
    return duplicate_clusters(pairs)


# DuckDB replays the distributed label propagation with a recursive CTE:
# reach(node, label) holds every (node, smaller-reachable-label) pair; the
# min per node is the cluster id. Labels >= the hop's destination are pruned
# (they can never become a min — the cluster min is below every member).
ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_JACCARD_CTES_MAT.strip()},
{_EDGES_MAT_CTE.strip()},
reach AS (
  SELECT src AS node, src AS label FROM edges
  UNION
  SELECT e.dst AS node, r.label
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.label < e.dst
)
SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node
"""


def q_dedup_clusters_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end product of near-dup removal: keep every doc except
    non-canonical cluster members (cluster = connected component of the
    near-dup graph; canonical = min doc_id). Docs in no pair survive
    untouched — the drop list is a broadcast anti-join."""
    from realtime_spark.operators.dedup import duplicate_clusters

    d = docs_with_dups(spark, sf_dir)
    pairs = jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.5)
    clusters = duplicate_clusters(pairs)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return d.join(F.broadcast(drop), "doc_id", "left_anti").select("doc_id")


ORACLE_DEDUP_CLUSTERS_KEEP = f"""
WITH RECURSIVE {_JACCARD_CTES_MAT.strip()},
{_EDGES_MAT_CTE.strip()},
reach AS (
  SELECT src AS node, src AS label FROM edges
  UNION
  SELECT e.dst AS node, r.label
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.label < e.dst
),
clusters AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node)
SELECT doc_id FROM _docs_dup
WHERE doc_id NOT IN (SELECT node FROM clusters WHERE node <> cluster_id)
"""


_LEAK_SPLITS = (("train", 0.8), ("eval", 0.2))
_LEAK_TRAIN_BUCKET = 8000  # 0.8 * _BUCKETS — the oracle inlines this


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval split leakage audit: the same corpus split two ways —
    `cluster` (sampling.cluster_split: the split key is the near-dup
    cluster representative, so whole clusters move together) vs `naive`
    (split_assign on the raw doc_id) — with, per strategy, the side counts
    and the number of scored near-dup pairs STRADDLING the split. The
    cluster strategy's leaked_pairs is zero BY CONSTRUCTION (both endpoints
    of every pair share a cluster, hence a side); the naive strategy leaks
    ~2*p*(1-p) of all pairs — eval contamination that inflates every
    benchmark score trained on the train side.

    Scale shape: clusters/pair-sides are broadcast (pair members only);
    the corpus pass is map-only + one global agg; the leak audit joins the
    (tiny) pair list against the broadcast sides — no corpus shuffle
    anywhere."""
    from realtime_spark.operators.dedup import duplicate_clusters
    from realtime_spark.operators.sampling import cluster_split, split_assign

    d = docs_with_dups(spark, sf_dir).localCheckpoint()
    # pairs feeds TWO consumers (the cluster propagation, which unpersists
    # its internal copy, and the leak join) — cut the lineage once so the
    # shingle self-join doesn't run twice
    pairs = jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.5).localCheckpoint()
    clusters = duplicate_clusters(pairs)

    both = split_assign(
        cluster_split(d, "doc_id", clusters, splits=_LEAK_SPLITS, out_col="s_c"),
        "doc_id", splits=_LEAK_SPLITS, out_col="s_n",
    )
    counts = both.agg(
        F.sum((F.col("s_c") == "train").cast("int")).cast("bigint").alias("c_tr"),
        F.sum((F.col("s_c") == "eval").cast("int")).cast("bigint").alias("c_ev"),
        F.sum((F.col("s_n") == "train").cast("int")).cast("bigint").alias("n_tr"),
        F.sum((F.col("s_n") == "eval").cast("int")).cast("bigint").alias("n_ev"),
    )
    # every pair endpoint is a cluster member, so the per-endpoint sides
    # come from the broadcast member list, never the corpus
    members = d.join(clusters, "doc_id").select("doc_id", "text", "cluster_id")
    msides = split_assign(
        cluster_split(members, "doc_id", clusters, splits=_LEAK_SPLITS, out_col="s_c"),
        "doc_id", splits=_LEAK_SPLITS, out_col="s_n",
    ).select("doc_id", "s_c", "s_n")
    leaks = (
        pairs.join(
            F.broadcast(msides.select(
                F.col("doc_id").alias("doc_a"),
                F.col("s_c").alias("ca"), F.col("s_n").alias("na"),
            )), "doc_a")
        .join(
            F.broadcast(msides.select(
                F.col("doc_id").alias("doc_b"),
                F.col("s_c").alias("cb"), F.col("s_n").alias("nb"),
            )), "doc_b")
        .agg(
            F.coalesce(F.sum((F.col("ca") != F.col("cb")).cast("int")), F.lit(0))
            .cast("bigint").alias("l_c"),
            F.coalesce(F.sum((F.col("na") != F.col("nb")).cast("int")), F.lit(0))
            .cast("bigint").alias("l_n"),
        )
    )
    return counts.crossJoin(leaks).selectExpr(
        "stack(2, 'cluster', c_tr, c_ev, l_c, 'naive', n_tr, n_ev, l_n)"
        " AS (strategy, n_train, n_eval, leaked_pairs)"
    )


def _oracle_split_leakage() -> str:
    # lazy: _SQL_HB is defined further down the module
    return f"""
WITH RECURSIVE {_JACCARD_CTES_MAT.strip()},
{_EDGES_MAT_CTE.strip()},
reach AS (
  SELECT src AS node, src AS label FROM edges
  UNION
  SELECT e.dst AS node, r.label
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.label < e.dst
),
clusters AS MATERIALIZED (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node),
sides AS MATERIALIZED (
  SELECT d.doc_id,
         {_SQL_HB.format(k='COALESCE(c.cluster_id, d.doc_id)')} < 8000 AS tc,
         {_SQL_HB.format(k='d.doc_id')} < 8000 AS tn
  FROM _docs_dup d LEFT JOIN clusters c ON c.node = d.doc_id
),
counts AS (
  SELECT SUM(CASE WHEN tc THEN 1 ELSE 0 END) AS c_tr,
         SUM(CASE WHEN tc THEN 0 ELSE 1 END) AS c_ev,
         SUM(CASE WHEN tn THEN 1 ELSE 0 END) AS n_tr,
         SUM(CASE WHEN tn THEN 0 ELSE 1 END) AS n_ev
  FROM sides
),
leaks AS (
  SELECT COALESCE(SUM(CASE WHEN sa.tc <> sb.tc THEN 1 ELSE 0 END), 0) AS l_c,
         COALESCE(SUM(CASE WHEN sa.tn <> sb.tn THEN 1 ELSE 0 END), 0) AS l_n
  FROM jpairs j
  JOIN sides sa ON sa.doc_id = j.doc_a
  JOIN sides sb ON sb.doc_id = j.doc_b
)
SELECT 'cluster' AS strategy, CAST(c_tr AS BIGINT) AS n_train,
       CAST(c_ev AS BIGINT) AS n_eval, CAST(l_c AS BIGINT) AS leaked_pairs
FROM counts, leaks
UNION ALL
SELECT 'naive', CAST(n_tr AS BIGINT), CAST(n_ev AS BIGINT),
       CAST(l_n AS BIGINT)
FROM counts, leaks
"""  # noqa: E501 — closes _oracle_split_leakage


def q_dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-priority canonical selection: instead of min-id, each
    near-dup cluster keeps its LONGEST member (ties -> min doc_id) — the
    standard curation heuristic when duplicates differ by truncation.
    Same cluster computation; the canonical pick is one map-side-combined
    max_by over the (tiny) cluster-member set."""
    from realtime_spark.operators.dedup import duplicate_clusters

    # one materialization of the dup-injected corpus: it feeds three
    # consumers (shingling, member tokenization, the final anti-join) —
    # without the cut each re-runs the parquet scan + union
    d = docs_with_dups(spark, sf_dir).localCheckpoint()
    pairs = jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.5)
    clusters = duplicate_clusters(pairs)
    # tokenize ONLY cluster members (the docs whose length matters), not the
    # whole corpus: the join prunes before the expensive split, and AQE
    # picks the broadcast side (clusters is |dup members|, typically tiny
    # next to the corpus)
    members = d.join(clusters, "doc_id").select(
        "doc_id",
        "cluster_id",
        F.size(
            F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != "")
        ).alias("n_tok"),
    )
    # keeper selection as ONE window over the tiny member set (row_number
    # partitioned by cluster) instead of a groupBy-max_by plus a second
    # broadcast join back — same keeper (max n_tok, ties -> min doc_id,
    # exactly the oracle's row_number), one less job (~0.4 s at sf0.1)
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_tok"), F.asc("doc_id")
    )
    drop = (
        members.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select("doc_id")
    )
    return d.join(F.broadcast(drop), "doc_id", "left_anti").select("doc_id")


ORACLE_DEDUP_KEEP_LONGEST = f"""
WITH RECURSIVE {_JACCARD_CTES_MAT.strip()},
{_EDGES_MAT_CTE.strip()},
reach AS (
  SELECT src AS node, src AS label FROM edges
  UNION
  SELECT e.dst AS node, r.label
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.label < e.dst
),
clusters AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node),
members AS (
  SELECT c.node AS doc_id, c.cluster_id,
         len(list_filter(string_split_regex(lower(d.text), '[^a-z0-9]+'),
             x -> x <> '')) AS n_tok
  FROM clusters c JOIN _docs_dup d ON d.doc_id = c.node
),
keepers AS (
  SELECT cluster_id, doc_id AS keep_id FROM (
    SELECT *, row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY n_tok DESC, doc_id ASC) AS rn
    FROM members) WHERE rn = 1
)
SELECT doc_id FROM _docs_dup
WHERE doc_id NOT IN (
  SELECT m.doc_id FROM members m JOIN keepers k USING (cluster_id)
  WHERE m.doc_id <> k.keep_id)
"""


# -- keyword search: inverted index + BM25 ----------------------------------

_BM25_TERMS = ("spark", "window", "merge")
_BM25_K = 20


def q_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.search import bm25_topk

    d = load_table(spark, sf_dir, "documents")
    return bm25_topk(d, "doc_id", "text", _BM25_TERMS, k=_BM25_K)


def q_search_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.search import postings, term_stats

    d = load_table(spark, sf_dir, "documents")
    post = postings(d, "doc_id", "text")
    return term_stats(post.filter(F.col("term").isin(list(_BM25_TERMS))))


# shared CTE chain: tokenization -> postings -> doc lengths -> corpus stats
_SEARCH_CTES = f"""
t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id AS doc, unnest(toks) AS term FROM t),
post AS (SELECT term, doc, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id AS doc, len(toks) AS dl FROM t),
stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
qpost AS (SELECT * FROM post
          WHERE term IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})),
dfreq AS (SELECT term, COUNT(*) AS df_t FROM qpost GROUP BY 1)
"""

ORACLE_SEARCH_BM25 = f"""
WITH {_SEARCH_CTES.strip()},
scored AS (
  SELECT p.doc,
         ln(1.0 + (s.n - d.df_t + 0.5) / (d.df_t + 0.5))
         * (p.tf * (1.2 + 1.0))
         / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS contrib
  FROM qpost p
  JOIN dfreq d USING (term)
  JOIN dl l ON l.doc = p.doc
  CROSS JOIN stats s
),
scores AS (
  SELECT doc, round(SUM(contrib), 4) AS score,
         COUNT(*) AS n_terms_matched
  FROM scored GROUP BY doc
)
SELECT doc, score, n_terms_matched,
       CAST(row_number() OVER (ORDER BY score DESC, doc) AS INTEGER) AS rank
FROM scores
ORDER BY score DESC, doc
LIMIT {_BM25_K}
"""

ORACLE_SEARCH_TERM_STATS = f"""
WITH {_SEARCH_CTES.strip()}
SELECT term, COUNT(*) AS n_docs, CAST(SUM(tf) AS BIGINT) AS total_tf
FROM qpost GROUP BY term
"""


# -- incremental exact dedup (daily-ingest pattern) -------------------------


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New batch (docs + injected dups) deduped against an existing corpus
    digest set (even doc_ids): corpus members and within-batch copies are
    both dropped; the earliest new row per digest survives."""
    from realtime_spark.operators.dedup import dedup_incremental

    existing = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("digest"))
        .distinct()
    )
    batch = docs_with_dups(spark, sf_dir)
    return dedup_incremental(batch, existing, "doc_id", "text").select("doc_id")


ORACLE_DEDUP_INCREMENTAL = f"""
WITH {DOCS_DUP_CTE.strip()},
existing AS (
  SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id % 2 = 0
),
b AS (SELECT doc_id, md5(text) AS digest FROM _docs_dup),
fresh AS (
  SELECT b.* FROM b LEFT JOIN existing e USING (digest) WHERE e.digest IS NULL
)
SELECT MIN(doc_id) AS doc_id FROM fresh GROUP BY digest
"""


# -- error-rate spike detection (z-score vs trailing day) -------------------


def q_anomaly_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops-analytics over the realtime event stream: hourly event counts per
    type, z-scored against the trailing 24 h; the spike flag fires at
    quantized z >= 2. One groupBy + one RANGE window — the monitoring job
    that watches the same stream the engine fans out."""
    from pyspark.sql import Window

    from realtime_spark.operators.text import quantize

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        # ts arrives as TIMESTAMP_NTZ from parquet; NTZ has no direct
        # bigint cast, so hop through LTZ (session tz is pinned to UTC)
        (F.col("ts").cast("timestamp_ltz").cast("long") / 3600)
        .cast("bigint")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("hr").rangeBetween(-23, 0)
    # gate on integer window stats (n>=2, not-all-equal), NOT on _std > 0:
    # stddev of identical values is exactly 0 in one engine and ~1e-16 in
    # the other, so a float gate would make the row SETS diverge
    scored = hourly.select(
        "event_type",
        "hr",
        "cnt",
        F.avg("cnt").over(w).alias("_avg"),
        F.stddev_samp("cnt").over(w).alias("_std"),
        F.count(F.lit(1)).over(w).alias("_n"),
        F.max("cnt").over(w).alias("_mx"),
        F.min("cnt").over(w).alias("_mn"),
    ).filter((F.col("_n") >= 2) & (F.col("_mx") != F.col("_mn")))
    z = quantize((F.col("cnt") - F.col("_avg")) / F.col("_std"), 2)
    return scored.select(
        "event_type", "hr", "cnt", z.alias("z"), (z >= 2.0).alias("spike")
    )


ORACLE_ANOMALY_SPIKES = """
WITH hourly AS (
  SELECT event_type, CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS hr,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
scored AS (
  SELECT event_type, hr, cnt,
         AVG(cnt) OVER w AS a,
         STDDEV_SAMP(cnt) OVER w AS s,
         COUNT(*) OVER w AS n,
         MAX(cnt) OVER w AS mx,
         MIN(cnt) OVER w AS mn
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hr
               RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT event_type, hr, cnt,
       floor(((cnt - a) / s) * 100.0 + 0.5) / 100.0 AS z,
       floor(((cnt - a) / s) * 100.0 + 0.5) / 100.0 >= 2.0 AS spike
FROM scored WHERE n >= 2 AND mx <> mn
"""


# -- tokenizer vocabulary + OOV rate ----------------------------------------

_VOCAB_N = 20


def q_vocab_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.search import build_vocab

    d = load_table(spark, sf_dir, "documents")
    return build_vocab(d, "doc_id", "text", top_n=_VOCAB_N)


def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.search import build_vocab, oov_rate

    d = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(d, "doc_id", "text", top_n=_VOCAB_N)
    return oov_rate(d, vocab, "doc_id", "text")


_VOCAB_CTES = f"""
t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id AS doc, unnest(toks) AS term FROM t),
counts AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY 1),
vocab AS (
  SELECT term, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, term) AS INTEGER) AS rank
  FROM counts
  ORDER BY cnt DESC, term LIMIT {_VOCAB_N}
)
"""

ORACLE_VOCAB_TOP = f"""
WITH {_VOCAB_CTES.strip()}
SELECT term, cnt, rank FROM vocab
"""

ORACLE_VOCAB_OOV = f"""
WITH {_VOCAB_CTES.strip()},
perdoc AS (
  SELECT tok.doc, COUNT(*) AS n_tokens,
         CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov
  FROM tok LEFT JOIN vocab v USING (term)
  GROUP BY tok.doc
)
SELECT d.doc_id AS doc,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       CAST(COALESCE(p.n_oov, 0) AS BIGINT) AS n_oov,
       CASE WHEN p.n_tokens IS NULL THEN NULL
            ELSE floor((p.n_oov / p.n_tokens) * 10000.0 + 0.5) / 10000.0
       END AS oov_rate
FROM documents d LEFT JOIN perdoc p ON p.doc = d.doc_id
"""


# -- PII redaction + repetition-ratio quality gate --------------------------

# documents are synthetic word soup, so PII is injected deterministically:
# every 7th doc gains an email, every 13th a phone number
_PII_EMAIL = " contact bob.smith+spam@mail.example.com now"
_PII_PHONE = " call +1 (555) 123-4567 today"


def _docs_with_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(_PII_EMAIL)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, F.lit(_PII_PHONE)).otherwise(F.lit("")),
        ),
    )


_PII_CTE = f"""
_docs_pii AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0 THEN '{_PII_EMAIL}' ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN '{_PII_PHONE}' ELSE '' END AS text
  FROM documents
)
"""


def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.text import pii_counts, redact_pii

    d = _docs_with_pii(spark, sf_dir)
    counts = pii_counts(F.col("text"))
    return d.select(
        "doc_id",
        redact_pii(F.col("text")).alias("redacted"),
        F.element_at(counts, "email").alias("n_email"),
        F.element_at(counts, "phone").alias("n_phone"),
    ).filter((F.col("n_email") > 0) | (F.col("n_phone") > 0))


def _sql_redact(col: str) -> str:
    from realtime_spark.operators.text import PII_PATTERNS

    out = col
    for name, pat in PII_PATTERNS:
        # DuckDB single-quoted strings are not backslash-escape-processed:
        # pass the RE2 pattern verbatim (only SQL-quote single quotes)
        esc = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{esc}', '<{name.upper()}>', 'g')"
    return out


def _oracle_redact() -> str:
    from realtime_spark.operators.text import PII_PATTERNS

    pats = {name: pat.replace("'", "''") for name, pat in PII_PATTERNS}
    return f"""
WITH {_PII_CTE.strip()}
SELECT doc_id, {_sql_redact('text')} AS redacted,
       len(regexp_extract_all(text, '{pats['email']}')) AS n_email,
       len(regexp_extract_all(text, '{pats['phone']}')) AS n_phone
FROM _docs_pii
WHERE len(regexp_extract_all(text, '{pats['email']}')) > 0
   OR len(regexp_extract_all(text, '{pats['phone']}')) > 0
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.text import repetition_ratio

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", repetition_ratio(F.col("text")).alias("rep_ratio")
    )


ORACLE_TEXT_REPETITION = f"""
WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents)
SELECT doc_id,
       CASE WHEN len(toks) > 0 THEN
         floor((1.0 - (len(list_distinct(toks)) / len(toks))) * 10000.0 + 0.5) / 10000.0
       ELSE 0.0 END AS rep_ratio
FROM t
"""


# -- corpus length-distribution percentiles ---------------------------------


def q_corpus_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.text import corpus_percentiles

    d = load_table(spark, sf_dir, "documents")
    return corpus_percentiles(d, ["lang"], "n_chars", ps=(0.5, 0.9, 0.99))


def _quantile_sql(p: float) -> str:
    return f"floor(quantile_cont(n_chars, {p}) * 10000.0 + 0.5) / 10000.0"


ORACLE_CORPUS_PERCENTILES = f"""
SELECT lang, COUNT(*) AS n_rows,
       {_quantile_sql(0.5)} AS p50_n_chars,
       {_quantile_sql(0.9)} AS p90_n_chars,
       {_quantile_sql(0.99)} AS p99_n_chars
FROM documents GROUP BY lang
"""


# -- MinHash LSH ------------------------------------------------------------

_MH_HASHES, _MH_BANDS, _MH_ROWS = 12, 4, 3


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_with_dups(spark, sf_dir)
    return minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=_MH_HASHES, bands=_MH_BANDS, k=3
    )


_MH_PRIME = 2147483647


def _sql_minhash_sig() -> str:
    # mirrors dedup.minhash_bands: one md5 per shingle, universal-hash
    # permutations ((2i+1)*x + 7919*i + 1) mod (2^31-1)
    return (
        f"list_transform(range(0, {_MH_HASHES}), "
        f"i -> list_min(list_transform(xs, "
        f"x -> ((2*i+1)*x + 7919*i + 1) % {_MH_PRIME})))"
    )


_SQL_BANDED_CTES = f"""
t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM _docs_dup),
s0 AS (SELECT doc_id AS doc, {_sql_shingles(3)} AS sh FROM t),
s1 AS (SELECT doc,
         list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {_MH_PRIME}) AS xs
       FROM s0 WHERE len(sh) > 0),
sig AS (SELECT doc, {_sql_minhash_sig()} AS sig FROM s1),
banded AS (
  SELECT doc, b.band,
         md5(array_to_string(list_transform(
             list_slice(sig, b.band * {_MH_ROWS} + 1, b.band * {_MH_ROWS} + {_MH_ROWS}),
             v -> CAST(v AS VARCHAR)), '|')) AS key
  FROM sig, (SELECT unnest(range(0, {_MH_BANDS})) AS band) b
)
"""

ORACLE_DEDUP_MINHASH_LSH = f"""
WITH {DOCS_DUP_CTE.strip()},
{_SQL_BANDED_CTES.strip()}
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.key = b.key AND a.doc < b.doc
"""


def q_dedup_lsh_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup via the PERSISTED LSH index: the standing corpus
    (original doc_ids) is signed and written band-partitioned to a scratch
    path once; the 'daily batch' (the injected exact/near duplicates,
    doc_id >= 1000000) probes the index without touching corpus text. The
    same docs_with_dups fixture split lets the oracle state the expected
    candidates in closed form."""
    import os

    from realtime_spark.operators.dedup import (
        lsh_candidates_against_index,
        write_lsh_index,
    )

    d = docs_with_dups(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") < 1000000)
    batch = d.filter(F.col("doc_id") >= 1000000)
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/realtime_spark_lsh_index_{sf_tag}_{os.getpid()}"  # pid-scoped: concurrent sessions must not race on the scratch index
    write_lsh_index(
        corpus, path, num_hashes=_MH_HASHES, bands=_MH_BANDS, k=3
    )
    out = lsh_candidates_against_index(
        batch,
        spark.read.parquet(path),
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
        k=3,
    )
    return out.select(
        F.col("new_doc").cast("long").alias("new_doc"),
        F.col("corpus_doc").cast("long").alias("corpus_doc"),
    )


ORACLE_DEDUP_LSH_INDEX = f"""
WITH {DOCS_DUP_CTE.strip()},
{_SQL_BANDED_CTES.strip()}
SELECT DISTINCT n.doc AS new_doc, c.doc AS corpus_doc
FROM banded n JOIN banded c
  ON n.band = c.band AND n.key = c.key AND n.doc <> c.doc
WHERE n.doc >= 1000000 AND c.doc < 1000000
"""


# -- SimHash ----------------------------------------------------------------

_SIMHASH_BITS = 16


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = docs_with_dups(spark, sf_dir)
    return simhash_buckets(d, "doc_id", "text", bits=_SIMHASH_BITS)


def _sql_simhash_bits() -> str:
    terms = [
        f"(CASE WHEN 2 * len(list_filter(hs, h -> (h & {1 << b}) <> 0)) > len(hs) "
        f"THEN {1 << b} ELSE 0 END)"
        for b in range(_SIMHASH_BITS)
    ]
    return " + ".join(terms)


ORACLE_DEDUP_SIMHASH = f"""
WITH {DOCS_DUP_CTE.strip()},
t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM _docs_dup),
h AS (SELECT doc_id AS doc,
             list_transform(toks, tk -> ('0x' || substr(md5(tk), 1, 15))::BIGINT) AS hs
      FROM t WHERE len(toks) > 0)
SELECT doc, CAST({_sql_simhash_bits()} AS BIGINT) AS simhash FROM h
"""


# -- embedding-cosine near-dup + ANN ---------------------------------------

# CASE-guard mirrors cosine_expr's NULL-on-zero-norm convention: NaN is NOT
# engine-portable (DuckDB ranks NaN above +inf, Spark ANSI refuses 0/0)
_SQL_COS = (
    "round(CASE WHEN (sqrt(list_dot_product({a}.embedding::DOUBLE[], {a}.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product({b}.embedding::DOUBLE[], {b}.embedding::DOUBLE[]))) <> 0 THEN "
    "list_dot_product({a}.embedding::DOUBLE[], {b}.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}.embedding::DOUBLE[], {a}.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product({b}.embedding::DOUBLE[], {b}.embedding::DOUBLE[]))) END, {r})"
)


def q_dedup_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(e, threshold=0.42)


ORACLE_DEDUP_COSINE_PAIRS = f"""
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       {_SQL_COS.format(a='a', b='b', r=4)} AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_SQL_COS.format(a='a', b='b', r=4)} >= 0.42
"""

_EMB_DIM = 64  # testdata embeddings dimension (all SFs)
_ANN_K = 5
_ANN_QUERY_PRED = "vec_id < 8"


def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.expr(_ANN_QUERY_PRED))
    return brute_force_topk(e, q, k=_ANN_K)


ORACLE_ANN_BRUTE_TOPK = f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE {_ANN_QUERY_PRED}),
s AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         {_SQL_COS.format(a='q', b='e', r=4)} AS cos
  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.vec_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rank
  FROM s
)
SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {_ANN_K}
"""

_IVF_CENT_PRED = "vec_id % 100 = 0"
_IVF_NPROBE = 2


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.expr(_ANN_QUERY_PRED))
    cents = e.filter(F.expr(_IVF_CENT_PRED))
    return ivf_topk(e, q, cents, k=_ANN_K, nprobe=_IVF_NPROBE)


ORACLE_ANN_IVF_TOPK = f"""
WITH cents AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE {_IVF_CENT_PRED}),
asg0 AS (
  SELECT e.vec_id AS neighbor_id, e.embedding AS c_vec, c.centroid_id,
         {_SQL_COS.format(a='e', b='c', r=6)} AS c_cos
  FROM embeddings e CROSS JOIN cents c
),
asg AS (
  SELECT neighbor_id, c_vec, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY neighbor_id
              ORDER BY c_cos DESC, centroid_id) AS rn
    FROM asg0
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE {_ANN_QUERY_PRED}),
probes0 AS (
  SELECT q.query_id, q.q_vec, c.centroid_id,
         round(CASE WHEN (sqrt(list_dot_product(q.q_vec::DOUBLE[], q.q_vec::DOUBLE[])) *
            sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) <> 0 THEN
           list_dot_product(q.q_vec::DOUBLE[], c.embedding::DOUBLE[]) /
           (sqrt(list_dot_product(q.q_vec::DOUBLE[], q.q_vec::DOUBLE[])) *
            sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) END, 6) AS qc_cos
  FROM q CROSS JOIN cents c
),
probes AS (
  SELECT query_id, q_vec, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY qc_cos DESC, centroid_id) AS rn
    FROM probes0
  ) WHERE rn <= {_IVF_NPROBE}
),
s AS (
  SELECT p.query_id, a.neighbor_id,
         round(CASE WHEN (sqrt(list_dot_product(p.q_vec::DOUBLE[], p.q_vec::DOUBLE[])) *
            sqrt(list_dot_product(a.c_vec::DOUBLE[], a.c_vec::DOUBLE[]))) <> 0 THEN
           list_dot_product(p.q_vec::DOUBLE[], a.c_vec::DOUBLE[]) /
           (sqrt(list_dot_product(p.q_vec::DOUBLE[], p.q_vec::DOUBLE[])) *
            sqrt(list_dot_product(a.c_vec::DOUBLE[], a.c_vec::DOUBLE[]))) END, 4) AS cos
  FROM asg a JOIN probes p USING (centroid_id)
  WHERE p.query_id <> a.neighbor_id
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rank
  FROM s
)
SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {_ANN_K}
"""

# NOTE: oracle embeddings.embedding is FLOAT[]; q_vec/c_vec flow through as
# FLOAT[] and are cast at the dot product, matching Spark's per-element cast.


# -- k-means centroid refinement (Lloyd iteration over the IVF seeds) -------


def q_ann_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration over the sampled IVF seeds: nearest-centroid
    assignment + element-wise mean (similarity.kmeans_refine). Emits member
    count and the first two centroid components, quantized."""
    from realtime_spark.operators.similarity import kmeans_refine
    from realtime_spark.operators.text import quantize

    e = load_table(spark, sf_dir, "embeddings")
    cents = e.filter(F.expr(_IVF_CENT_PRED))
    out = kmeans_refine(e, cents, iters=1)
    return out.select(
        "centroid_id",
        "n_members",
        quantize(F.col("cent_vec")[0]).alias("c0"),
        quantize(F.col("cent_vec")[1]).alias("c1"),
    )


ORACLE_ANN_KMEANS_REFINE = f"""
WITH cents AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE {_IVF_CENT_PRED}),
asg0 AS (
  SELECT e.vec_id AS neighbor_id, e.embedding AS c_vec, c.centroid_id,
         {_SQL_COS.format(a='e', b='c', r=6)} AS c_cos
  FROM embeddings e CROSS JOIN cents c
),
asg AS (
  SELECT neighbor_id, c_vec, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY neighbor_id
              ORDER BY c_cos DESC, centroid_id) AS rn
    FROM asg0
  ) WHERE rn = 1
),
ex AS (
  SELECT centroid_id, r.range AS pos, c_vec[CAST(r.range + 1 AS INT)] AS val
  FROM asg, range({_EMB_DIM}) r
),
m AS (
  SELECT centroid_id, pos,
         floor(AVG(CAST(val AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS mean,
         COUNT(*) AS cnt
  FROM ex GROUP BY 1, 2
)
SELECT centroid_id, MAX(cnt) AS n_members,
       MAX(CASE WHEN pos = 0 THEN mean END) AS c0,
       MAX(CASE WHEN pos = 1 THEN mean END) AS c1
FROM m GROUP BY 1
"""


def q_ann_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over the PERSISTED index (built to a scratch path, stored
    partitioned by centroid_id, search prunes to probed partitions). Result
    is identical to the direct ivf_topk plan, so it shares its oracle."""
    import os

    from realtime_spark.operators.similarity import (
        ivf_topk_from_index,
        read_ivf_index,
        write_ivf_index,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.expr(_ANN_QUERY_PRED))
    cents = e.filter(F.expr(_IVF_CENT_PRED))
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/realtime_spark_ivf_index_{sf_tag}_{os.getpid()}"  # pid-scoped: concurrent sessions must not race on the scratch index
    write_ivf_index(e, cents, path)
    return ivf_topk_from_index(
        read_ivf_index(spark, path), q, cents, k=_ANN_K, nprobe=_IVF_NPROBE
    )


# ---------------------------------------------------------------------------
# deterministic sampling / splits (map-only, hash-keyed)
# ---------------------------------------------------------------------------

_SQL_HB = "('0x' || substr(md5(CAST({k} AS VARCHAR)), 1, 15))::BIGINT % 10000"


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.sampling import hash_sample

    d = load_table(spark, sf_dir, "documents")
    return hash_sample(d, "doc_id", 0.25).select("doc_id")


ORACLE_SAMPLE_HASH = f"""
SELECT doc_id FROM documents WHERE {_SQL_HB.format(k='doc_id')} < 2500
"""

_STRATA_FRACS = {"en": 0.5, "fr": 0.1}


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.sampling import stratified_sample

    d = load_table(spark, sf_dir, "documents")
    out = stratified_sample(
        d, "lang", _STRATA_FRACS, "doc_id", default_fraction=0.02
    )
    return out.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


ORACLE_SAMPLE_STRATIFIED = f"""
SELECT lang, COUNT(*) AS n_kept FROM documents
WHERE {_SQL_HB.format(k='doc_id')} <
  CASE lang WHEN 'en' THEN 5000 WHEN 'fr' THEN 1000 ELSE 200 END
GROUP BY lang
"""


def q_sample_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.sampling import split_assign

    d = load_table(spark, sf_dir, "documents")
    out = split_assign(d, "doc_id")
    return out.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))


ORACLE_SAMPLE_SPLITS = f"""
SELECT CASE WHEN {_SQL_HB.format(k='doc_id')} < 9800 THEN 'train'
            WHEN {_SQL_HB.format(k='doc_id')} < 9900 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM documents GROUP BY 1
"""

_CHUNK, _CHUNK_STRIDE = 32, 24


def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking of every document (context-window
    training prep, operators/text.py::chunk_tokens). Map-only: tokenize,
    explode chunk starts, slice — no shuffle at any corpus size."""
    from realtime_spark.operators.text import chunk_tokens

    d = load_table(spark, sf_dir, "documents")
    return chunk_tokens(d, "doc_id", "text", _CHUNK, _CHUNK_STRIDE)


ORACLE_CHUNK_WINDOWS = f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKS} AS toks, len({SQL_TOKS}) AS n FROM documents
),
c AS (
  SELECT doc_id, toks, n,
         unnest(range(0, CASE WHEN n <= {_CHUNK} THEN 1
                   ELSE 1 + (n - {_CHUNK} + {_CHUNK_STRIDE - 1}) // {_CHUNK_STRIDE}
                   END)) AS chunk_idx
  FROM t WHERE n > 0
)
SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(chunk_idx * {_CHUNK_STRIDE} + 1 AS INTEGER) AS start_tok,
       CAST(len(list_slice(toks, chunk_idx * {_CHUNK_STRIDE} + 1,
                chunk_idx * {_CHUNK_STRIDE} + {_CHUNK})) AS INTEGER)
         AS n_chunk_tokens,
       array_to_string(list_slice(toks, chunk_idx * {_CHUNK_STRIDE} + 1,
                chunk_idx * {_CHUNK_STRIDE} + {_CHUNK}), ' ') AS chunk_text
FROM c
"""


_FK_FRAC_BUCKET = 2000  # 20% of 10k hash buckets


def q_fk_joint_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-consistent joint sampling across related tables: sample ~20%
    of CUSTOMERS, and take exactly the orders and lineitems of those
    customers — whole entities survive, never a dangling child row.

    Scale shape: the customer predicate is the stable hash on c_custkey;
    orders apply the SAME hash to their o_custkey FOREIGN KEY — a map-only
    scan filter, zero join, identical sample by construction. lineitem
    doesn't carry custkey, so it semi-joins the sampled orders (AQE picks
    broadcast vs shuffle). One of the highest-leverage tricks at 100 TB:
    joint downsampling of a normalized schema with at most one join."""
    from realtime_spark.operators.sampling import hash_bucket

    o = load_table(spark, sf_dir, "orders").filter(
        hash_bucket(F.col("o_custkey")) < _FK_FRAC_BUCKET
    )
    li = load_table(spark, sf_dir, "lineitem")
    joined = li.join(
        o.select("o_orderkey", "o_orderpriority"),
        li["l_orderkey"] == o["o_orderkey"],
    )
    return joined.groupBy("o_orderpriority").agg(
        F.countDistinct("o_orderkey").alias("n_orders"),
        F.count(F.lit(1)).alias("n_lineitems"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


ORACLE_FK_JOINT_SAMPLE = f"""
WITH so AS (
  SELECT o_orderkey, o_orderpriority FROM orders
  WHERE {_SQL_HB.format(k='o_custkey')} < {_FK_FRAC_BUCKET}
)
SELECT o_orderpriority,
       COUNT(DISTINCT o_orderkey) AS n_orders,
       COUNT(*) AS n_lineitems,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM so JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY 1
"""


def _snapshot_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tomorrow's corpus snapshot, derived deterministically: docs %97
    removed, docs %31 edited (' v2' appended), one new doc per %41
    original (id + 5000000). Mirrored by the oracle CTE."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    kept = d.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 31 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    new = d.filter(F.col("doc_id") % 41 == 0).select(
        (F.col("doc_id") + 5000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" new")).alias("text"),
    )
    return kept.unionByName(new)


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style snapshot diff (operators/syncdiff.py): per-bucket XOR
    digests find the buckets that changed between today's and tomorrow's
    corpus; only those buckets are re-read for the row-level
    added/removed/changed report. Equals the naive full-outer diff (the
    oracle computes that directly) while shuffling only the changed
    slice."""
    from realtime_spark.operators.syncdiff import corpus_changed_docs

    a = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b = _snapshot_b(spark, sf_dir)
    return corpus_changed_docs(a, b, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "status"
    )


ORACLE_CORPUS_DIFF = """
WITH b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 31 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 97 <> 0
  UNION ALL
  SELECT doc_id + 5000000, text || ' new' FROM documents WHERE doc_id % 41 = 0
),
j AS (
  SELECT a.doc_id AS aid, b.doc_id AS bid, a.text AS at, b.text AS bt
  FROM documents a FULL OUTER JOIN b ON a.doc_id = b.doc_id
)
SELECT COALESCE(aid, bid) AS doc_id,
       CASE WHEN aid IS NULL THEN 'added'
            WHEN bid IS NULL THEN 'removed'
            WHEN at <> bt THEN 'changed' END AS status
FROM j
WHERE aid IS NULL OR bid IS NULL OR at <> bt
"""


# URLs injected deterministically (synthetic docs carry none): every 5th doc
# links a rotating site, every 9th additionally links the blocklisted host
_URL_SITE = " see https://Site"
_URL_SITE2 = ".example.com/path now"
_URL_BLOCKED = " ref http://blocked.example.net/x"
_BLOCKLIST = ("blocked.example.net",)


def q_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL accounting with a blocklist flag — the crawl-curation
    unit (per-domain caps, removal lists). Host extraction is JVM regex;
    case-normalization is part of the contract (hosts are case-insensitive,
    so 'Site3' and 'site3' must collapse)."""
    from realtime_spark.operators.text import domain_stats

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(_URL_SITE),
                    (F.col("doc_id") % 20).cast("string"),
                    F.lit(_URL_SITE2),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 9 == 0, F.lit(_URL_BLOCKED)).otherwise(F.lit("")),
        ).alias("text"),
    )
    return domain_stats(d, "doc_id", "text", _BLOCKLIST)


ORACLE_URL_DOMAINS = f"""
WITH d AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 5 = 0
                 THEN '{_URL_SITE}' || CAST(doc_id % 20 AS VARCHAR) || '{_URL_SITE2}'
                 ELSE '' END
         || CASE WHEN doc_id % 9 = 0 THEN '{_URL_BLOCKED}' ELSE '' END AS text
  FROM documents
),
u AS (
  SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^ \\t\\n\\r]+')) AS url
  FROM d
),
doms AS (
  SELECT doc_id, lower(regexp_extract(url, 'https?://([^/ \\t\\n\\r:]+)', 1)) AS domain
  FROM u
)
SELECT domain, COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs,
       domain IN ('blocked.example.net') AS blocked
FROM doms GROUP BY domain
"""


_WS_K = 10


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (A-ES exponential clocks, RNG
    replaced by the stable content hash): per source, the 10 docs with the
    smallest -ln(u)/w where w = token count — long docs proportionally
    likelier, yet the draw is reproducible across engines and runs."""
    from realtime_spark.operators.dedup import tokens_expr
    from realtime_spark.operators.sampling import weighted_sample_per_group

    d = load_table(spark, sf_dir, "documents").withColumn(
        "_w", F.size(tokens_expr(F.col("text")))
    ).filter(F.col("_w") > 0)
    out = weighted_sample_per_group(d, "source", "doc_id", F.col("_w"), _WS_K)
    return out.select("source", "doc_id", "priority")


ORACLE_SAMPLE_WEIGHTED = f"""
WITH t AS (
  SELECT source, doc_id, len({SQL_TOKS}) AS w FROM documents
),
p AS (
  SELECT source, doc_id,
         floor((-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                     + 1) / 1152921504606846976.0) / CAST(w AS DOUBLE))
               * 1000000000.0 + 0.5) / 1000000000.0 AS priority
  FROM t WHERE w > 0
)
SELECT source, doc_id, priority FROM (
  SELECT *, row_number() OVER (PARTITION BY source
            ORDER BY priority, doc_id) AS rn
  FROM p
) WHERE rn <= {_WS_K}
"""


_Z_BITS = 8


def q_zorder_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) keys over (o_custkey, o_totalprice): the clustering
    key that makes per-file min/max stats tight on BOTH dimensions at once
    (operators/layout.py; write_zordered + file_manifest turn it into scan
    pruning, tested in tests/test_layout.py). Pure codegen bit math after
    one broadcast stats row — the oracle replays the interleave exactly."""
    from realtime_spark.operators.layout import zorder_keys

    o = load_table(spark, sf_dir, "orders")
    z = zorder_keys(o, ["o_custkey", "o_totalprice"], _Z_BITS)
    return z.select(
        "o_orderkey", "z", F.shiftright("z", 6).alias("zbucket")
    )


def _oracle_zorder() -> str:
    from realtime_spark.operators.layout import sql_interleave_bits

    zsql = sql_interleave_bits(["c1", "c2"], _Z_BITS)
    return f"""
WITH stats AS (
  SELECT MIN(o_custkey) AS mn1, MAX(o_custkey) AS mx1,
         MIN(o_totalprice) AS mn2, MAX(o_totalprice) AS mx2
  FROM orders
),
codes AS (
  SELECT o_orderkey,
         CASE WHEN mx1 = mn1 THEN 0
              ELSE CAST(floor((CAST(o_custkey AS DOUBLE) - mn1) / (mx1 - mn1)
                              * 255.0 + 0.5) AS BIGINT) END AS c1,
         CASE WHEN mx2 = mn2 THEN 0
              ELSE CAST(floor((CAST(o_totalprice AS DOUBLE) - mn2) / (mx2 - mn2)
                              * 255.0 + 0.5) AS BIGINT) END AS c2
  FROM orders, stats
)
SELECT o_orderkey, {zsql} AS z, {zsql} >> 6 AS zbucket FROM codes
"""


def q_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnostics (operators/skew.py::skew_stats) for two
    candidate shuffle keys of the event stream: the near-uniform user_id
    and the 5-value event_type — the probe a pipeline runs before choosing
    salted_join vs trusting AQE. One narrow shuffle per key probed."""
    from realtime_spark.operators.skew import skew_stats

    e = load_table(spark, sf_dir, "events")
    u = skew_stats(e, ["user_id"]).withColumn("key_name", F.lit("user_id"))
    t = skew_stats(e, ["event_type"]).withColumn("key_name", F.lit("event_type"))
    return u.unionByName(t).select(
        "key_name", "n_rows", "n_keys", "max_cnt",
        "mean_cnt_floor", "skew_factor_floor", "suggested_salt",
    )


_SQL_SKEW = """
SELECT '{name}' AS key_name,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       COUNT(*) AS n_keys,
       CAST(MAX(cnt) AS BIGINT) AS max_cnt,
       CAST(floor(SUM(cnt) / COUNT(*)) AS BIGINT) AS mean_cnt_floor,
       CAST(floor(MAX(cnt) * COUNT(*) / SUM(cnt)) AS BIGINT)
         AS skew_factor_floor,
       GREATEST(1, CAST(ceil(MAX(cnt) * COUNT(*) / SUM(cnt) / 4) AS BIGINT))
         AS suggested_salt
FROM (SELECT {key}, COUNT(*) AS cnt FROM events GROUP BY 1)
"""

ORACLE_SKEW_STATS = (
    _SQL_SKEW.format(name="user_id", key="user_id")
    + " UNION ALL "
    + _SQL_SKEW.format(name="event_type", key="event_type")
)


_PER_GROUP_N = 7


def q_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.sampling import sample_n_per_group

    d = load_table(spark, sf_dir, "documents")
    out = sample_n_per_group(d, "source", "doc_id", _PER_GROUP_N)
    return out.select("source", "doc_id")


ORACLE_SAMPLE_PER_GROUP = f"""
WITH r AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                    % 1152921504606846976, doc_id) AS rn
  FROM documents
)
SELECT source, doc_id FROM r WHERE rn <= {_PER_GROUP_N}
"""


_MIX_BUDGET, _MIX_ALPHA = 300, 0.5


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing (alpha=0.5): per-source take counts
    proportional to sqrt(source share) of a fixed budget — small domains
    upsampled relative to natural sampling, the standard multi-domain
    pretraining reweighting."""
    from realtime_spark.operators.sampling import temperature_mix

    d = load_table(spark, sf_dir, "documents")
    out = temperature_mix(
        d, "source", "doc_id", budget=_MIX_BUDGET, alpha=_MIX_ALPHA
    )
    return out.select("source", "doc_id", "mix_rank")


ORACLE_DOMAIN_MIX = f"""
WITH c AS (
  SELECT source, COUNT(*) AS n_g,
         CAST(floor(pow(COUNT(*), {_MIX_ALPHA}) * 1000000) AS BIGINT) AS wi
  FROM documents GROUP BY source
),
z AS (SELECT CAST(SUM(wi) AS BIGINT) AS z FROM c),
takes AS (
  SELECT source, n_g, ({_MIX_BUDGET} * wi) // z AS take_k
  FROM c CROSS JOIN z
),
r AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                    % 1152921504606846976, doc_id) AS rn
  FROM documents
)
SELECT r.source, r.doc_id, CAST(r.rn AS INT) AS mix_rank
FROM r JOIN takes t ON r.source = t.source
WHERE r.rn <= least(t.take_k, t.n_g)
"""


_N_SHARDS = 8


def q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training permutation as (shard, position):
    hash-sharded, hash-ordered within shard — n_shards independent sorts,
    never one global row_number partition."""
    from realtime_spark.operators.sampling import training_order

    d = load_table(spark, sf_dir, "documents")
    return training_order(d, "doc_id", _N_SHARDS).select(
        "doc_id", "shard", "position"
    )


ORACLE_TRAINING_ORDER = f"""
WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hb
  FROM documents
)
SELECT doc_id, CAST(hb % {_N_SHARDS} AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY hb % {_N_SHARDS}
            ORDER BY hb % 1152921504606846976, doc_id) AS INT) AS position
FROM h
"""


# ---------------------------------------------------------------------------
# sequence packing: concatenate-and-chunk token windows over the permutation
# ---------------------------------------------------------------------------

_PACK_SEQ_LEN = 512


def q_pack_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-pretraining sequence-packing LAYOUT (operators/shards.py
    ``pack_token_windows``): the corpus token stream, in training order, cut
    into fixed 512-token windows; one row per document with its placement
    (start offset, first/last window, span). One exchange + one sort —
    both windows ride the shard partitioning."""
    from realtime_spark.operators.shards import pack_token_windows

    d = load_table(spark, sf_dir, "documents")
    return pack_token_windows(d, "doc_id", _N_SHARDS, _PACK_SEQ_LEN)


_PACK_PLACED_CTES = f"""
h AS (
  SELECT doc_id, text,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hb
  FROM documents
), t AS (
  SELECT doc_id, hb % {_N_SHARDS} AS shard,
         hb % 1152921504606846976 AS ord,
         CAST(len(list_filter(string_split_regex(text, '\\s+'),
              x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(row_number() OVER (PARTITION BY hb % {_N_SHARDS}
              ORDER BY hb % 1152921504606846976, doc_id) AS INT) AS position
  FROM h
), p AS (
  SELECT doc_id, shard, position, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
              ORDER BY ord, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              0) AS BIGINT) AS start_tok
  FROM t WHERE n_tokens > 0
)"""

ORACLE_PACK_LAYOUT = f"""
WITH {_PACK_PLACED_CTES.strip()}
SELECT doc_id, CAST(shard AS BIGINT) AS shard, position, n_tokens, start_tok,
       start_tok // {_PACK_SEQ_LEN} AS first_window,
       (start_tok + n_tokens - 1) // {_PACK_SEQ_LEN} AS last_window,
       start_tok % {_PACK_SEQ_LEN} AS window_offset,
       (start_tok + n_tokens - 1) // {_PACK_SEQ_LEN}
         - start_tok // {_PACK_SEQ_LEN} + 1 AS n_windows
FROM p
"""


_LB_EDGES = [32, 64, 128, 256]
_LB_BATCH = 16


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching layout (operators/shards.py
    ``length_bucket_batches``): documents of similar token length grouped
    into fixed-size batches within (bucket, shard) cells — the
    finetuning/eval loader shape that keeps to-the-batch-max padding
    small. Sub-sharding by the permutation hash keeps cells
    executor-sized (bucketing alone is a 5-partition skew wall)."""
    from realtime_spark.operators.shards import length_bucket_batches

    d = load_table(spark, sf_dir, "documents")
    return length_bucket_batches(d, "doc_id", _N_SHARDS, _LB_BATCH, _LB_EDGES)


def _lb_bucket_case() -> str:
    whens = " ".join(
        f"WHEN n_tokens < {e} THEN {i}" for i, e in enumerate(_LB_EDGES)
    )
    return f"CASE {whens} ELSE {len(_LB_EDGES)} END"


_LB_CTES = f"""
h AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hb,
         CAST(len(list_filter(string_split_regex(text, '\\s+'),
              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
), t AS (
  SELECT doc_id, n_tokens, hb % {_N_SHARDS} AS shard,
         hb % 1152921504606846976 AS ord,
         CAST({_lb_bucket_case()} AS INT) AS bucket
  FROM h WHERE n_tokens > 0
), r AS (
  SELECT *, row_number() OVER (PARTITION BY bucket, shard
            ORDER BY ord, doc_id) - 1 AS rn
  FROM t
)"""

ORACLE_LENGTH_BUCKETS = f"""
WITH {_LB_CTES.strip()}
SELECT doc_id, n_tokens, bucket, CAST(shard AS BIGINT) AS shard,
       CAST(rn // {_LB_BATCH} AS INT) AS batch_id,
       CAST(rn % {_LB_BATCH} AS INT) AS pos_in_batch
FROM r
"""


def q_batch_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste accounting per length bucket (operators/shards.py
    ``batch_padding_stats``): batches, docs, real tokens, and the pad
    tokens a to-the-batch-max collator would add — all-integer so the
    partials fold exactly at any scale."""
    from realtime_spark.operators.shards import (
        batch_padding_stats,
        length_bucket_batches,
    )

    d = load_table(spark, sf_dir, "documents")
    return batch_padding_stats(
        length_bucket_batches(d, "doc_id", _N_SHARDS, _LB_BATCH, _LB_EDGES)
    )


ORACLE_BATCH_PADDING = f"""
WITH {_LB_CTES.strip()},
b AS (
  SELECT bucket, shard, rn // {_LB_BATCH} AS batch_id,
         COUNT(*) AS n_docs, MAX(n_tokens) AS batch_max,
         SUM(n_tokens) AS batch_tokens
  FROM r GROUP BY 1, 2, 3
)
SELECT bucket, COUNT(*) AS n_batches,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(batch_tokens) AS BIGINT) AS real_tokens,
       CAST(SUM(batch_max * n_docs - batch_tokens) AS BIGINT) AS pad_tokens
FROM b GROUP BY 1
"""


def q_pack_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(shard, window) fill accounting over the packed layout
    (operators/shards.py ``packed_window_stats``): documents touching the
    window, occupied tokens (seq_len everywhere but each shard's tail),
    and continuation fragments — the attention-mask/fragmentation stat."""
    from realtime_spark.operators.shards import (
        pack_token_windows,
        packed_window_stats,
    )

    d = load_table(spark, sf_dir, "documents")
    return packed_window_stats(
        pack_token_windows(d, "doc_id", _N_SHARDS, _PACK_SEQ_LEN), _PACK_SEQ_LEN
    )


ORACLE_PACK_WINDOWS = f"""
WITH {_PACK_PLACED_CTES.strip()},
spans AS (
  SELECT shard, start_tok, n_tokens,
         unnest(generate_series(start_tok // {_PACK_SEQ_LEN},
                (start_tok + n_tokens - 1) // {_PACK_SEQ_LEN})) AS "window"
  FROM p
)
SELECT CAST(shard AS BIGINT) AS shard, "window",
       COUNT(*) AS n_docs,
       CAST(SUM(LEAST(start_tok + n_tokens, ("window" + 1) * {_PACK_SEQ_LEN})
              - GREATEST(start_tok, "window" * {_PACK_SEQ_LEN}))
            AS BIGINT) AS tokens_filled,
       CAST(SUM(CASE WHEN start_tok < "window" * {_PACK_SEQ_LEN}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_continuations
FROM spans
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# benchmark decontamination (train/eval n-gram overlap)
# ---------------------------------------------------------------------------

_EVAL_PRED = "doc_id % 50 = 3"


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.dedup import contaminated_docs

    d = docs_with_dups(spark, sf_dir)
    eval_df = d.filter(F.expr(_EVAL_PRED))
    corpus = d.filter(~F.expr(_EVAL_PRED))
    return contaminated_docs(corpus, eval_df, "doc_id", "text", k=3)


ORACLE_DECONTAMINATE = f"""
WITH {DOCS_DUP_CTE.strip()},
ev AS (SELECT doc_id, text FROM _docs_dup WHERE {_EVAL_PRED}),
co AS (SELECT doc_id, text FROM _docs_dup WHERE NOT ({_EVAL_PRED})),
evt AS (SELECT doc_id, {SQL_TOKS} AS toks FROM ev),
evs AS (SELECT DISTINCT ('0x' || substr(md5(unnest({_sql_shingles(3)})), 1, 15))::BIGINT AS sx
        FROM evt),
cot AS (SELECT doc_id, {SQL_TOKS} AS toks FROM co),
cos0 AS (SELECT doc_id AS doc, unnest({_sql_shingles(3)}) AS shingle FROM cot),
cosx AS (SELECT doc, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS sx FROM cos0)
SELECT doc AS doc_id, COUNT(*) AS n_shared
FROM cosx WHERE sx IN (SELECT sx FROM evs)
GROUP BY doc HAVING COUNT(*) >= 1
"""


# ---------------------------------------------------------------------------
# embedding hyperplane LSH (SRP)
# ---------------------------------------------------------------------------

_SRP_PLANES = 16


def _sql_srp_bucket() -> str:
    from realtime_spark.operators.similarity import srp_planes

    planes = srp_planes(_SRP_PLANES, _EMB_DIM)
    terms = []
    for p, plane in enumerate(planes):
        arr = "[" + ", ".join(repr(x) for x in plane) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {arr}::DOUBLE[]) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


def q_emb_srp_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.similarity import srp_buckets

    e = load_table(spark, sf_dir, "embeddings")
    return srp_buckets(e, num_planes=_SRP_PLANES, dim=_EMB_DIM)


def _oracle_srp_buckets() -> str:
    return f"""
SELECT vec_id, CAST({_sql_srp_bucket()} AS BIGINT) AS srp_bucket FROM embeddings
"""


def q_emb_srp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.similarity import srp_candidate_pairs

    e = load_table(spark, sf_dir, "embeddings")
    return srp_candidate_pairs(e, num_planes=_SRP_PLANES, dim=_EMB_DIM)


def _oracle_srp_pairs() -> str:
    return f"""
WITH bk AS (SELECT vec_id, {_sql_srp_bucket()} AS bucket FROM embeddings)
SELECT x.vec_id AS doc_a, y.vec_id AS doc_b
FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
"""


# ---------------------------------------------------------------------------
# LSH-then-score pipelines: candidates from LSH, exact similarity only on
# candidates — the composition that replaces quadratic all-pairs at scale
# ---------------------------------------------------------------------------

_LSH_SCORE_T = 0.5


def q_lsh_jaccard_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs scored by exact shingle Jaccard, keeping
    real near-dups (>= t). The scale path for text near-dup: the corpus is
    shingled twice (signatures + scoring of candidate docs only), never
    self-joined all-pairs."""
    from realtime_spark.operators.dedup import jaccard_for_pairs

    d = docs_with_dups(spark, sf_dir)
    cands = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=_MH_HASHES, bands=_MH_BANDS, k=3
    )
    scored = jaccard_for_pairs(d, cands, "doc_id", "text", k=3)
    return scored.filter(F.col("jaccard") >= _LSH_SCORE_T)


def _oracle_lsh_jaccard_pipeline() -> str:
    return f"""
WITH {DOCS_DUP_CTE.strip()},
t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM _docs_dup),
s0 AS (SELECT doc_id AS doc, {_sql_shingles(3)} AS sh FROM t),
s1 AS (SELECT doc,
         list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {_MH_PRIME}) AS xs
       FROM s0 WHERE len(sh) > 0),
sig AS (SELECT doc, {_sql_minhash_sig()} AS sig FROM s1),
banded AS (
  SELECT doc, b.band,
         md5(array_to_string(list_transform(
             list_slice(sig, b.band * {_MH_ROWS} + 1, b.band * {_MH_ROWS} + {_MH_ROWS}),
             v -> CAST(v AS VARCHAR)), '|')) AS key
  FROM sig, (SELECT unnest(range(0, {_MH_BANDS})) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.doc < b.doc
),
shx AS (
  SELECT doc, ('0x' || substr(md5(u.shingle), 1, 15))::BIGINT AS sx
  FROM s0, unnest(s0.sh) AS u(shingle)
),
sizes AS (SELECT doc, COUNT(*) AS n_sh FROM shx GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN shx a ON a.doc = c.doc_a
  JOIN shx b ON b.doc = c.doc_b AND b.sx = a.sx
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       round(COALESCE(i.n_inter, 0)
             / (sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0)), 6) AS jaccard
FROM cand c
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN sizes sa ON sa.doc = c.doc_a
JOIN sizes sb ON sb.doc = c.doc_b
WHERE round(COALESCE(i.n_inter, 0)
            / (sa.n_sh + sb.n_sh - COALESCE(i.n_inter, 0)), 6) >= {_LSH_SCORE_T}
"""


_SRP_SCORE_T = 0.42


def q_srp_cosine_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH candidate pairs scored by exact cosine, keeping >= t — the
    LSH-accelerated version of dedup_cosine_pairs (same threshold, so the
    result is the recall subset the buckets surface)."""
    from realtime_spark.operators.similarity import cosine_expr, srp_candidate_pairs

    e = load_table(spark, sf_dir, "embeddings")
    cands = srp_candidate_pairs(e, num_planes=_SRP_PLANES, dim=_EMB_DIM)
    va = e.select(F.col("vec_id").alias("doc_a"), F.col("embedding").alias("va"))
    vb = e.select(F.col("vec_id").alias("doc_b"), F.col("embedding").alias("vb"))
    return (
        cands.join(va, "doc_a")
        .join(vb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(cosine_expr(F.col("va"), F.col("vb")), 4).alias("cos"),
        )
        .filter(F.col("cos") >= _SRP_SCORE_T)
    )


def _oracle_srp_cosine_pipeline() -> str:
    return f"""
WITH bk AS (SELECT vec_id, {_sql_srp_bucket()} AS bucket FROM embeddings),
cand AS (
  SELECT x.vec_id AS doc_a, y.vec_id AS doc_b
  FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT c.doc_a, c.doc_b, {_SQL_COS.format(a='a', b='b', r=4)} AS cos
FROM cand c
JOIN embeddings a ON a.vec_id = c.doc_a
JOIN embeddings b ON b.vec_id = c.doc_b
WHERE {_SQL_COS.format(a='a', b='b', r=4)} >= {_SRP_SCORE_T}
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        whitespace_token_count(t).alias("n_ws"),
        bpe_token_count(t).alias("n_bpe"),
    )


ORACLE_TEXT_TOKEN_COUNTS = r"""
SELECT doc_id,
  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS INT) AS n_ws,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_bpe
FROM documents
"""

_LANGS = ("de", "en", "es", "fr", "zh")


def _sql_lang_score(lang: str, stops: tuple[str, ...]) -> str:
    arr = "[" + ", ".join(f"'{s}'" for s in stops) + "]"
    return (
        f"round(CASE WHEN len(toks) > 0 THEN "
        f"len(list_filter(toks, tk -> list_contains({arr}, tk))) / len(toks) "
        f"ELSE 0.0 END, 6)"
    )


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # staged projection (r10, guide section 4): the expression form of
    # detect_lang re-tokenizes per reference through interpreted HOFs
    from realtime_spark.operators.text import with_detected_lang

    d = load_table(spark, sf_dir, "documents")
    return with_detected_lang(d, "text", "detected_lang").select(
        "doc_id", "detected_lang"
    )


def _oracle_lang_id() -> str:
    from realtime_spark.operators.text import STOPWORDS

    scores = ", ".join(
        f"{_sql_lang_score(lg, STOPWORDS[lg])} AS s_{lg}" for lg in _LANGS
    )
    mx = "greatest(" + ", ".join(f"s_{lg}" for lg in _LANGS) + ")"
    pick = " ".join(f"WHEN s_{lg} = mx THEN '{lg}'" for lg in _LANGS)
    return f"""
WITH t AS (SELECT doc_id, {_SQL_WORDS} AS toks FROM documents),
s AS (SELECT doc_id, {scores} FROM t),
m AS (SELECT *, {mx} AS mx FROM s)
SELECT doc_id, CASE WHEN mx <= 0 THEN 'und' ELSE (CASE {pick} END) END AS detected_lang
FROM m
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # staged projection (r10, guide section 4): the expression form of
    # quality_score re-tokenizes per reference through interpreted HOFs
    from realtime_spark.operators.text import with_quality_score

    d = load_table(spark, sf_dir, "documents")
    return with_quality_score(d, "text", "quality").select("doc_id", "quality")


def _oracle_quality() -> str:
    from realtime_spark.operators.text import STOPWORDS

    en = "[" + ", ".join(f"'{s}'" for s in STOPWORDS["en"]) + "]"
    return rf"""
WITH t AS (SELECT doc_id, text, {_SQL_WORDS} AS toks FROM documents),
c AS (
  SELECT doc_id,
    len(toks) AS n,
    CASE WHEN length(text) > 0 THEN
      length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) / length(text)
    ELSE 0.0 END AS punct,
    CASE WHEN len(toks) > 0 THEN
      len(list_filter(toks, tk -> list_contains({en}, tk))) / len(toks)
    ELSE 0.0 END AS stop_ratio,
    CASE WHEN len(toks) > 0 THEN
      list_sum(list_transform(toks, tk -> CAST(length(tk) AS DOUBLE))) / len(toks)
    ELSE 0.0 END AS wl
  FROM t
)
SELECT doc_id,
  floor((0.3 * (least(CAST(n AS DOUBLE), 100.0) / 100.0)
      + 0.3 * (1.0 - punct)
      + 0.2 * least(stop_ratio * 5.0, 1.0)
      + 0.2 * greatest(0.0, least(1.0, 1.0 - abs(wl - 5.0) / 10.0))) * 10000.0
      + 0.5) / 10000.0 AS quality
FROM c
"""


def q_text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.text import fingerprints

    d = load_table(spark, sf_dir, "documents")
    return fingerprints(d, "doc_id", "text", k=8)


# COALESCE: DuckDB array_to_string([]) is NULL where Spark array_join([]) is
# '' — an all-punctuation/empty doc must fingerprint as md5(''), not NULL
ORACLE_TEXT_FINGERPRINTS = f"""
WITH t AS (SELECT doc_id, COALESCE(array_to_string({_SQL_WORDS}, ' '), '') AS norm FROM documents)
SELECT doc_id, md5(norm) AS fp,
  list_min(list_transform(range(1, greatest(length(norm) - 7, 1) + 1),
           i -> md5(substr(norm, i, 8)))) AS rfp
FROM t
"""


# -- corpus n-gram statistics ----------------------------------------------

_NGRAM_N, _NGRAM_K = 3, 5


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.text import top_ngrams

    d = load_table(spark, sf_dir, "documents")
    return top_ngrams(d, "text", n=_NGRAM_N, k=_NGRAM_K, by="lang")


ORACLE_TOP_NGRAMS = f"""
WITH t AS (SELECT lang, {_SQL_WORDS} AS toks FROM documents),
g AS (
  SELECT lang, unnest(CASE WHEN len(toks) >= {_NGRAM_N}
    THEN list_transform(range(1, greatest(len(toks) - {_NGRAM_N - 1}, 1) + 1),
         i -> array_to_string(list_slice(toks, i, i + {_NGRAM_N - 1}), ' '))
    ELSE [] END) AS ngram
  FROM t
),
c AS (SELECT lang, ngram, COUNT(*) AS n_occur FROM g GROUP BY 1, 2),
r AS (
  SELECT *, row_number() OVER (PARTITION BY lang
            ORDER BY n_occur DESC, ngram) AS rank
  FROM c
)
SELECT lang, ngram, n_occur, CAST(rank AS INT) AS rank FROM r WHERE rank <= {_NGRAM_K}
"""


# -- sequence packing -------------------------------------------------------

_PACK_BUDGET = 2048


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.text import pack_by_token_budget

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "source", whitespace_token_count(F.col("text")).alias("n_ws")
    )
    packed = pack_by_token_budget(
        t, "doc_id", "n_ws", budget=_PACK_BUDGET, partition_col="source"
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_ws").cast("bigint").alias("n_tokens"),
    )


ORACLE_PACK_SEQUENCES = rf"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS INT) AS n_ws,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 1152921504606846976 AS hb
  FROM documents
),
o AS (
  SELECT *, COALESCE(SUM(n_ws) OVER (PARTITION BY source ORDER BY hb, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
  FROM t
)
SELECT source, CAST(floor(cum_excl / {_PACK_BUDGET}) AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs, CAST(SUM(n_ws) AS BIGINT) AS n_tokens
FROM o GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

_FEAT_DIM = 8


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = media_from_documents(docs)
    feats = extract_features(media, dim=_FEAT_DIM, fake=True)
    return feats.select(
        "media_id",
        "n_bytes",
        "digest",
        F.array_join(
            F.transform(
                "features", lambda x: F.round(x * 1e6).cast("long").cast("string")
            ),
            ",",
        ).alias("feat_micro"),
    )


ORACLE_MEDIA_FEATURES = f"""
SELECT doc_id AS media_id, strlen(text) AS n_bytes, md5(text) AS digest,
  array_to_string(list_transform(range(0, {_FEAT_DIM}),
    i -> CAST(round((('0x' || substr(sha256(text), i * 8 + 1, 8))::BIGINT
                     / 4294967296.0) * 1000000.0) AS BIGINT)), ',') AS feat_micro
FROM documents
"""

_FRAME_EVERY_MS = 1000
_FRAME_MAX = 16


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = media_from_documents(docs, media_type="video")
    return sample_frames(media, every_ms=_FRAME_EVERY_MS, max_frames=_FRAME_MAX)


ORACLE_MEDIA_FRAMES = f"""
SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
       CAST(i * {_FRAME_EVERY_MS} AS BIGINT) AS ts_ms,
       md5(md5(text) || ':' || CAST(i AS VARCHAR)) AS frame_digest
FROM documents,
     unnest(range(0, least((n_chars * 10 + {_FRAME_EVERY_MS} - 1) // {_FRAME_EVERY_MS},
                           {_FRAME_MAX}))) AS u(i)
"""


# ---------------------------------------------------------------------------
# end-to-end training-data pipeline showcase: language gate -> quality gate ->
# exact dedup -> near-dup candidate removal, the canonical corpus-cleaning
# chain composed from the individual operators (each independently verified)
# ---------------------------------------------------------------------------


def q_corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.dedup import dedup_exact, minhash_lsh_pairs

    from realtime_spark.operators.text import lang_quality_cols

    d = docs_with_dups(spark, sf_dir)
    # staged variant: tokenizes once per row (bit-identical to the
    # quality_score/detect_lang column exprs, which re-tokenize per lambda).
    # The checkpoint below is load-bearing: a filter directly on q/lg would
    # be pushed through the staged Projects, re-inlining the full expression
    # tree into the predicate (pushdown substitutes aliases regardless of
    # cost) — measured 8s vs 1.7s at sf0.1. Materializing the scored frame
    # keeps the one-tokenize-per-row plan; a real pipeline persists its
    # admission-gate scores anyway.
    scored = lang_quality_cols(d, "text", lang_out="lg", q_out="q").localCheckpoint()
    gated = scored.filter((F.col("q") >= 0.5) & (F.col("lg") != "und"))
    # `exact` feeds three consumers (LSH candidates, anti-join, final agg);
    # persist so the gate+dedup prefix runs once, as a real pipeline would
    # checkpoint its cleaned corpus
    exact = dedup_exact(gated, "doc_id", "text").persist()
    near = minhash_lsh_pairs(exact, "doc_id", "text")
    # drop the higher id of every candidate pair (canonical-keep-lowest)
    kept = exact.join(
        near.select(F.col("doc_b").alias("doc_id")).distinct(), "doc_id", "left_anti"
    )
    # integer sum of 4dp-scaled quality: exact regardless of summation order
    # (a float AVG would differ between engines in the last ulp)
    return kept.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.round(F.col("q") * 10000).cast("long")).alias("q_sum_4dp"),
    )


def _oracle_corpus_clean() -> str:
    # mirror: quality + lang gates, exact dedup (min id per digest), minhash
    # LSH candidate pairs, drop doc_b side
    lang = _oracle_lang_id()
    quality = _oracle_quality()
    # re-derive both over _docs_dup instead of documents
    lang_inner = lang.replace("FROM documents", "FROM _docs_dup")
    quality_inner = quality.replace("FROM documents", "FROM _docs_dup")
    return f"""
WITH {DOCS_DUP_CTE.strip()},
lg AS ({lang_inner}),
qu AS ({quality_inner}),
gated AS (
  SELECT d.doc_id, d.text, qu.quality AS q
  FROM _docs_dup d JOIN lg USING (doc_id) JOIN qu USING (doc_id)
  WHERE qu.quality >= 0.5 AND lg.detected_lang <> 'und'
),
exact AS (
  SELECT doc_id, text, q FROM gated
  WHERE doc_id IN (SELECT MIN(doc_id) FROM gated GROUP BY md5(text))
),
t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM exact),
s0 AS (SELECT doc_id AS doc, {_sql_shingles(3)} AS sh FROM t),
s1 AS (SELECT doc,
         list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {_MH_PRIME}) AS xs
       FROM s0 WHERE len(sh) > 0),
sig AS (SELECT doc, {_sql_minhash_sig()} AS sig FROM s1),
banded AS (
  SELECT doc, b.band,
         md5(array_to_string(list_transform(
             list_slice(sig, b.band * {_MH_ROWS} + 1, b.band * {_MH_ROWS} + {_MH_ROWS}),
             v -> CAST(v AS VARCHAR)), '|')) AS key
  FROM sig, (SELECT unnest(range(0, {_MH_BANDS})) AS band) b
),
drop_ids AS (
  SELECT DISTINCT b.doc AS doc_id
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc < b.doc
)
SELECT COUNT(*) AS n_docs,
       CAST(SUM(CAST(round(q * 10000) AS BIGINT)) AS BIGINT) AS q_sum_4dp
FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM drop_ids)
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def training_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dedup_exact_groups": q_dedup_exact_groups,
        "dedup_exact_keep": q_dedup_exact_keep,
        "dedup_jaccard": q_dedup_jaccard,
        "ngram_shared_frac": q_ngram_shared_frac,
        "dedup_clusters": q_dedup_clusters,
        "dedup_clusters_keep": q_dedup_clusters_keep,
        "split_leakage": q_split_leakage,
        "dedup_keep_longest": q_dedup_keep_longest,
        "search_bm25": q_search_bm25,
        "search_term_stats": q_search_term_stats,
        "corpus_percentiles": q_corpus_percentiles,
        "text_redact_pii": q_text_redact_pii,
        "vocab_top": q_vocab_top,
        "dedup_incremental": q_dedup_incremental,
        "anomaly_spikes": q_anomaly_spikes,
        "vocab_oov": q_vocab_oov,
        "text_repetition": q_text_repetition,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_lsh_index": q_dedup_lsh_index,
        "semdedup": q_semdedup,
        "sem_decontaminate": q_sem_decontaminate,
        "span_dup_stats": q_span_dup_stats,
        "span_top_repeats": q_span_top_repeats,
        "dsir_weights": q_dsir_weights,
        "ann_hard_negatives": q_ann_hard_negatives,
        "gopher_rules": q_gopher_rules,
        "media_sniff": q_media_sniff,
        "ann_pq_topk": q_ann_pq_topk,
        "ann_sq_topk": q_ann_sq_topk,
        "ann_sq_rerank": q_ann_sq_rerank,
        "ann_ivf_pq_topk": q_ann_ivf_pq_topk,
        "text_unicode": q_text_unicode,
        "text_readability": q_text_readability,
        "lang_mix": q_lang_mix,
        "daily_ingest_keep": q_daily_ingest_keep,
        "pagerank": q_pagerank,
        "source_drift": q_source_drift,
        "cdc_ivm_sum": q_cdc_ivm_sum,
        "dedup_simhash": q_dedup_simhash,
        "dedup_cosine_pairs": q_dedup_cosine_pairs,
        "ann_brute_topk": q_ann_brute_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_index": q_ann_ivf_index,
        "ann_kmeans_refine": q_ann_kmeans_refine,
        "text_token_counts": q_text_token_counts,
        "text_lang_id": q_text_lang_id,
        "text_quality": q_text_quality,
        "text_fingerprints": q_text_fingerprints,
        "media_features": q_media_features,
        "media_frames": q_media_frames,
        "corpus_clean_pipeline": q_corpus_clean_pipeline,
        "sample_hash": q_sample_hash,
        "chunk_windows": q_chunk_windows,
        "fk_joint_sample": q_fk_joint_sample,
        "zorder_orders": q_zorder_orders,
        "sample_weighted": q_sample_weighted,
        "url_domains": q_url_domains,
        "corpus_diff": q_corpus_diff,
        "skew_stats": q_skew_stats,
        "sample_stratified": q_sample_stratified,
        "sample_splits": q_sample_splits,
        "sample_per_group": q_sample_per_group,
        "domain_mix": q_domain_mix,
        "training_order": q_training_order,
        "pack_layout": q_pack_layout,
        "pack_windows": q_pack_windows,
        "length_buckets": q_length_buckets,
        "batch_padding": q_batch_padding,
        "decontaminate": q_decontaminate,
        "emb_srp_buckets": q_emb_srp_buckets,
        "emb_srp_pairs": q_emb_srp_pairs,
        "lsh_jaccard_pipeline": q_lsh_jaccard_pipeline,
        "srp_cosine_pipeline": q_srp_cosine_pipeline,
        "pack_sequences": q_pack_sequences,
        "top_ngrams": q_top_ngrams,
    }


def training_oracles() -> dict[str, str]:
    return {
        "dedup_exact_groups": ORACLE_DEDUP_EXACT_GROUPS,
        "dedup_exact_keep": ORACLE_DEDUP_EXACT_KEEP,
        "dedup_jaccard": ORACLE_DEDUP_JACCARD,
        "ngram_shared_frac": ORACLE_NGRAM_SHARED,
        "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
        "dedup_clusters_keep": ORACLE_DEDUP_CLUSTERS_KEEP,
        "split_leakage": _oracle_split_leakage(),
        "dedup_keep_longest": ORACLE_DEDUP_KEEP_LONGEST,
        "search_bm25": ORACLE_SEARCH_BM25,
        "search_term_stats": ORACLE_SEARCH_TERM_STATS,
        "corpus_percentiles": ORACLE_CORPUS_PERCENTILES,
        "text_redact_pii": _oracle_redact(),
        "vocab_top": ORACLE_VOCAB_TOP,
        "dedup_incremental": ORACLE_DEDUP_INCREMENTAL,
        "anomaly_spikes": ORACLE_ANOMALY_SPIKES,
        "vocab_oov": ORACLE_VOCAB_OOV,
        "text_repetition": ORACLE_TEXT_REPETITION,
        "dedup_minhash_lsh": ORACLE_DEDUP_MINHASH_LSH,
        "dedup_lsh_index": ORACLE_DEDUP_LSH_INDEX,
        "semdedup": ORACLE_SEMDEDUP,
        "sem_decontaminate": ORACLE_SEM_DECONTAMINATE,
        "span_dup_stats": ORACLE_SPAN_DUP_STATS,
        "span_top_repeats": ORACLE_SPAN_TOP_REPEATS,
        "dsir_weights": ORACLE_DSIR_WEIGHTS,
        "ann_hard_negatives": ORACLE_ANN_HARD_NEGATIVES,
        "gopher_rules": ORACLE_GOPHER_RULES,
        "media_sniff": ORACLE_MEDIA_SNIFF,
        "ann_pq_topk": ORACLE_ANN_PQ_TOPK,
        "ann_sq_topk": ORACLE_ANN_SQ_TOPK,
        "ann_sq_rerank": ORACLE_ANN_SQ_RERANK,
        "ann_ivf_pq_topk": ORACLE_ANN_IVF_PQ_TOPK,
        "text_unicode": ORACLE_TEXT_UNICODE,
        "text_readability": ORACLE_TEXT_READABILITY,
        "lang_mix": _oracle_lang_mix(),
        "daily_ingest_keep": _oracle_daily_ingest(),
        "pagerank": _oracle_pagerank(),
        "source_drift": ORACLE_SOURCE_DRIFT,
        "cdc_ivm_sum": ORACLE_CDC_IVM_SUM,
        "dedup_simhash": ORACLE_DEDUP_SIMHASH,
        "dedup_cosine_pairs": ORACLE_DEDUP_COSINE_PAIRS,
        "ann_brute_topk": ORACLE_ANN_BRUTE_TOPK,
        "ann_ivf_topk": ORACLE_ANN_IVF_TOPK,
        "ann_ivf_index": ORACLE_ANN_IVF_TOPK,
        "ann_kmeans_refine": ORACLE_ANN_KMEANS_REFINE,
        "text_token_counts": ORACLE_TEXT_TOKEN_COUNTS,
        "text_lang_id": _oracle_lang_id(),
        "text_quality": _oracle_quality(),
        "text_fingerprints": ORACLE_TEXT_FINGERPRINTS,
        "media_features": ORACLE_MEDIA_FEATURES,
        "media_frames": ORACLE_MEDIA_FRAMES,
        "corpus_clean_pipeline": _oracle_corpus_clean(),
        "sample_hash": ORACLE_SAMPLE_HASH,
        "chunk_windows": ORACLE_CHUNK_WINDOWS,
        "fk_joint_sample": ORACLE_FK_JOINT_SAMPLE,
        "zorder_orders": _oracle_zorder(),
        "sample_weighted": ORACLE_SAMPLE_WEIGHTED,
        "url_domains": ORACLE_URL_DOMAINS,
        "corpus_diff": ORACLE_CORPUS_DIFF,
        "skew_stats": ORACLE_SKEW_STATS,
        "sample_stratified": ORACLE_SAMPLE_STRATIFIED,
        "sample_splits": ORACLE_SAMPLE_SPLITS,
        "sample_per_group": ORACLE_SAMPLE_PER_GROUP,
        "domain_mix": ORACLE_DOMAIN_MIX,
        "training_order": ORACLE_TRAINING_ORDER,
        "pack_layout": ORACLE_PACK_LAYOUT,
        "pack_windows": ORACLE_PACK_WINDOWS,
        "length_buckets": ORACLE_LENGTH_BUCKETS,
        "batch_padding": ORACLE_BATCH_PADDING,
        "decontaminate": ORACLE_DECONTAMINATE,
        "emb_srp_buckets": _oracle_srp_buckets(),
        "emb_srp_pairs": _oracle_srp_pairs(),
        "lsh_jaccard_pipeline": _oracle_lsh_jaccard_pipeline(),
        "srp_cosine_pipeline": _oracle_srp_cosine_pipeline(),
        "pack_sequences": ORACLE_PACK_SEQUENCES,
        "top_ngrams": ORACLE_TOP_NGRAMS,
    }


# -- SemDeDup: semantic dedup over clustered embeddings ---------------------

_SEMDEDUP_T = 0.42


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.similarity import semantic_dedup

    e = load_table(spark, sf_dir, "embeddings")
    cents = e.filter(F.expr(_IVF_CENT_PRED))
    return semantic_dedup(e, cents, threshold=_SEMDEDUP_T)


# same NULL-on-zero-norm guard as _SQL_COS, over bare vector expressions
_SQL_VEC_COS = (
    "round(CASE WHEN (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))) <> 0 THEN "
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))) END, {r})"
)

ORACLE_SEMDEDUP = f"""
WITH cents AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE {_IVF_CENT_PRED}),
asg0 AS (
  SELECT e.vec_id, e.embedding AS vec, c.centroid_id,
         {_SQL_VEC_COS.format(a='e.embedding', b='c.embedding', r=6)} AS c_cos
  FROM embeddings e CROSS JOIN cents c
),
asg AS (
  SELECT vec_id, vec, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
              ORDER BY c_cos DESC, centroid_id) AS rn
    FROM asg0
  ) WHERE rn = 1
),
droppers AS (
  SELECT DISTINCT b.vec_id AS drop_id
  FROM asg a JOIN asg b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE {_SQL_VEC_COS.format(a='a.vec', b='b.vec', r=4)} >= {_SEMDEDUP_T}
)
SELECT a.vec_id, a.centroid_id,
       (a.vec_id IN (SELECT drop_id FROM droppers)) AS dropped
FROM asg a
"""


_SEMDECON_EVAL_PRED = "vec_id % 50 = 3"


def q_sem_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic benchmark decontamination (operators/similarity.py
    ``semantic_decontaminate``): training vectors flagged when cosine-near
    an eval-set vector INSIDE their IVF cluster — the embedding-space
    sibling of the n-gram `decontaminate`; train x eval search confined to
    shared clusters, join shuffles only on centroid_id."""
    from realtime_spark.operators.similarity import semantic_decontaminate

    e = load_table(spark, sf_dir, "embeddings")
    cents = e.filter(F.expr(_IVF_CENT_PRED))
    eval_df = e.filter(F.expr(_SEMDECON_EVAL_PRED))
    corpus = e.filter(~F.expr(_SEMDECON_EVAL_PRED))
    return semantic_decontaminate(corpus, eval_df, cents, threshold=_SEMDEDUP_T)


def _semdecon_asg_cte(name: str, src_pred: str) -> str:
    """The ORACLE_SEMDEDUP nearest-centroid assignment (c_cos at r=6,
    smallest-centroid tie-break) over a filtered slice of embeddings."""
    return f"""
{name}0 AS (
  SELECT e.vec_id, e.embedding AS vec, c.centroid_id,
         {_SQL_VEC_COS.format(a='e.embedding', b='c.embedding', r=6)} AS c_cos
  FROM embeddings e CROSS JOIN cents c
  WHERE {src_pred}
),
{name} AS (
  SELECT vec_id, vec, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
              ORDER BY c_cos DESC, centroid_id) AS rn
    FROM {name}0
  ) WHERE rn = 1
)"""


ORACLE_SEM_DECONTAMINATE = f"""
WITH cents AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE {_IVF_CENT_PRED}),
{_semdecon_asg_cte('asgt', f'NOT ({_SEMDECON_EVAL_PRED})').strip()},
{_semdecon_asg_cte('asge', _SEMDECON_EVAL_PRED).strip()},
best AS (
  SELECT t.vec_id, t.centroid_id,
         MAX({_SQL_VEC_COS.format(a='t.vec', b='e.vec', r=4)}) + 0.0 AS max_eval_cos
  FROM asgt t JOIN asge e USING (centroid_id)
  GROUP BY 1, 2
)
SELECT t.vec_id, t.centroid_id, b.max_eval_cos,
       COALESCE(b.max_eval_cos >= {_SEMDEDUP_T}, FALSE) AS contaminated
FROM asgt t LEFT JOIN best b
  ON t.vec_id = b.vec_id AND t.centroid_id = b.centroid_id
"""


# -- token-span exact-substring dedup (Lee et al., arXiv:2107.06499) --------

_SPAN_W = 10


def q_span_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.spans import span_dedup_stats

    d = docs_with_dups(spark, sf_dir)
    return span_dedup_stats(d, "doc_id", "text", w=_SPAN_W).select(
        "doc_id",
        "n_spans",
        F.col("n_dup_spans").cast("long").alias("n_dup_spans"),
        "dup_frac",
    )


_SQL_SPAN_CTES = f"""
t AS (SELECT doc_id AS doc, {SQL_TOKS} AS toks FROM _docs_dup),
sp0 AS (
  SELECT doc, unnest(list_transform(range(1, greatest(len(toks) - {_SPAN_W - 1}, 1) + 1),
         i -> struct_pack(pos := i,
              s := array_to_string(list_slice(toks, i, i + {_SPAN_W - 1}), ' ')))) AS sp
  FROM t WHERE len(toks) >= {_SPAN_W}
),
sp AS (SELECT doc, sp.pos AS pos,
              ('0x' || substr(md5(sp.s), 1, 15))::BIGINT AS sx FROM sp0),
r AS (SELECT doc, pos, sx,
             row_number() OVER (PARTITION BY sx ORDER BY doc, pos) AS rn FROM sp)
"""

ORACLE_SPAN_DUP_STATS = f"""
WITH {DOCS_DUP_CTE.strip()},
{_SQL_SPAN_CTES.strip()}
SELECT doc AS doc_id, COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       floor(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
             * 10000.0 + 0.5) / 10000.0 AS dup_frac
FROM r GROUP BY doc
"""


def q_span_top_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 most-repeated w-token spans corpus-wide with their canonical
    first occurrence — the report a curation run reads before deciding trim
    rules."""
    from realtime_spark.operators.spans import span_digests

    d = docs_with_dups(spark, sf_dir)
    sp = span_digests(d, "doc_id", "text", w=_SPAN_W)
    g = sp.groupBy("sx").agg(
        F.count(F.lit(1)).alias("occurrences"),
        F.min(F.struct("doc", "pos")).alias("first"),
    )
    return (
        g.filter(F.col("occurrences") >= 2)
        .orderBy(F.col("occurrences").desc(), F.col("sx").asc())
        .limit(20)
        .select(
            "sx",
            "occurrences",
            F.col("first.doc").alias("first_doc"),
            F.col("first.pos").alias("first_pos"),
        )
    )


ORACLE_SPAN_TOP_REPEATS = f"""
WITH {DOCS_DUP_CTE.strip()},
{_SQL_SPAN_CTES.strip()}
SELECT sx, COUNT(*) AS occurrences,
       arg_min(doc, rn) AS first_doc, arg_min(pos, rn) AS first_pos
FROM r GROUP BY sx HAVING COUNT(*) >= 2
ORDER BY occurrences DESC, sx ASC LIMIT 20
"""


# -- DSIR hashed n-gram importance weights (Xie et al., arXiv:2302.03169) ---

_DSIR_B = 256  # hashed feature buckets


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling: score every raw document by
    how target-like its hashed-bigram distribution is.

    Target = the 'src0' slice of the corpus (stand-in for a curated domain);
    raw = the whole corpus. Features are word bigrams hashed into B=256
    buckets; both distributions are add-one smoothed over the buckets; the
    per-doc weight is the mean log-likelihood ratio of its features.

    Scale shape: the two distributions are ONE map-side-combined count agg
    each over (bucket) — 256 rows out; the per-bucket log-ratio dim
    broadcasts back onto the exploded feature stream, and the per-doc mean
    is the only real shuffle (keyed by doc_id). The raw corpus is scanned
    twice (once for the raw distribution, once for scoring) — at 100 TB
    materialize the feature stream or fold the raw counts into the scoring
    scan via an accumulator-style two-pass on the same cached frame."""
    from realtime_spark.operators.dedup import tokens_expr
    from realtime_spark.operators.text import quantize

    d = load_table(spark, sf_dir, "documents")
    toks = tokens_expr(F.col("text"))
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = d.select(
        "doc_id", F.explode(bigrams).alias("g"), "source"
    ).select(
        "doc_id",
        "source",
        (
            F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("bigint")
            % F.lit(_DSIR_B)
        ).alias("b"),
    ).persist()  # three consumers (raw counts, target counts, scoring):
    # without this the tokenize+explode scan runs three times
    raw_counts = feats.groupBy("b").agg(F.count(F.lit(1)).alias("c_raw"))
    tgt_counts = (
        feats.filter(F.col("source") == "src0")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    # dense bucket dim: every bucket 0..B-1 with smoothed log-ratio
    buckets = spark.range(_DSIR_B).select(F.col("id").alias("b"))
    totals_r = raw_counts.agg(F.sum("c_raw").alias("t_raw"))
    totals_t = tgt_counts.agg(F.sum("c_tgt").alias("t_tgt"))
    dim = (
        buckets.join(raw_counts, "b", "left")
        .join(tgt_counts, "b", "left")
        .crossJoin(totals_r)
        .crossJoin(totals_t)
        .select(
            "b",
            (
                F.log(F.coalesce(F.col("c_tgt"), F.lit(0)) + 1)
                - F.log(F.col("t_tgt") + _DSIR_B)
                - F.log(F.coalesce(F.col("c_raw"), F.lit(0)) + 1)
                + F.log(F.col("t_raw") + _DSIR_B)
            ).alias("log_ratio"),
        )
    )
    scored = (
        feats.join(F.broadcast(dim), "b")
        .groupBy("doc_id")
        .agg(F.avg("log_ratio").alias("w"), F.count(F.lit(1)).alias("n_feats"))
    )
    return scored.select(
        "doc_id", quantize(F.col("w"), 4).alias("dsir_weight"), "n_feats"
    )


ORACLE_DSIR_WEIGHTS = f"""
WITH t AS (SELECT doc_id, source, {SQL_TOKS} AS toks FROM documents),
g0 AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
                i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS g
  FROM t WHERE len(toks) >= 2
),
f AS (SELECT doc_id, source,
             ('0x' || substr(md5(g), 1, 15))::BIGINT % {_DSIR_B} AS b FROM g0),
rc AS (SELECT b, COUNT(*) AS c_raw FROM f GROUP BY b),
tc AS (SELECT b, COUNT(*) AS c_tgt FROM f WHERE source = 'src0' GROUP BY b),
tot AS (SELECT (SELECT SUM(c_raw) FROM rc) AS t_raw,
               (SELECT SUM(c_tgt) FROM tc) AS t_tgt),
dim AS (
  SELECT bb.b,
         ln(COALESCE(tc.c_tgt, 0) + 1) - ln(tot.t_tgt + {_DSIR_B})
         - ln(COALESCE(rc.c_raw, 0) + 1) + ln(tot.t_raw + {_DSIR_B}) AS log_ratio
  FROM (SELECT unnest(range(0, {_DSIR_B})) AS b) bb
  LEFT JOIN rc ON bb.b = rc.b LEFT JOIN tc ON bb.b = tc.b CROSS JOIN tot
)
SELECT f.doc_id,
       floor(AVG(dim.log_ratio) * 10000.0 + 0.5) / 10000.0 AS dsir_weight,
       COUNT(*) AS n_feats
FROM f JOIN dim ON f.b = dim.b
GROUP BY f.doc_id
"""


# -- hard-negative mining (dense-retrieval negative sampling) ---------------


def q_ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.similarity import hard_negatives

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.expr(_ANN_QUERY_PRED))
    return hard_negatives(e, q, k=_ANN_K)


ORACLE_ANN_HARD_NEGATIVES = f"""
WITH q AS (SELECT vec_id, embedding, label FROM embeddings WHERE {_ANN_QUERY_PRED}),
s AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         {_SQL_COS.format(a='q', b='e', r=4)} AS cos
  FROM q CROSS JOIN embeddings e WHERE e.label <> q.label
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rank
  FROM s
)
SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {_ANN_K}
"""


# -- Gopher-style quality rule bundle (Rae et al. 2021, arXiv:2112.11446) ---

_GOPHER_STOPWORDS = ("the", "a", "of", "to", "and", "in", "that", "is")


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The named Gopher/RefinedWeb repetition-and-shape rules as per-doc
    boolean flags (word-count bounds, mean-word-length band, alpha-word
    fraction, stopword evidence, top-word dominance) plus the composite
    keep decision. Expression-only: one scan, no shuffle before the final
    projection — each rule is a codegen'd array aggregate."""
    from realtime_spark.operators.dedup import tokens_expr

    d = load_table(spark, sf_dir, "documents")
    toks = tokens_expr(F.col("text"))
    n = F.size(toks)
    mean_wl = F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + F.length(t)
    ) / n.cast("double")
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))) / n.cast("double")
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS]),
        )
    )
    # top-word dominance: max occurrences of any single token / n
    top_frac = (
        F.array_max(
            F.transform(
                F.array_distinct(toks),
                lambda u: F.size(F.filter(toks, lambda t: t == u)),
            )
        ).cast("double")
        / n.cast("double")
    )
    r_wc = (n >= 20) & (n <= 100000)
    r_wl = (mean_wl >= 3.0) & (mean_wl <= 10.0)
    r_alpha = alpha_frac >= 0.8
    r_stop = stop_hits >= 2
    r_top = top_frac <= 0.2
    return d.filter(n > 0).select(
        "doc_id",
        r_wc.alias("ok_word_count"),
        r_wl.alias("ok_word_len"),
        r_alpha.alias("ok_alpha"),
        r_stop.alias("ok_stopwords"),
        r_top.alias("ok_top_word"),
        (r_wc & r_wl & r_alpha & r_stop & r_top).alias("keep"),
    )


_SQL_GOPHER_STOPS = ", ".join(f"'{s}'" for s in _GOPHER_STOPWORDS)

ORACLE_GOPHER_RULES = f"""
WITH t AS (SELECT doc_id, {SQL_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id, len(toks) AS n,
         list_sum(list_transform(toks, x -> strlen(x))) * 1.0 / len(toks) AS mean_wl,
         len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) * 1.0 / len(toks) AS alpha_frac,
         len(list_intersect(list_distinct(toks), [{_SQL_GOPHER_STOPS}])) AS stop_hits,
         list_max(list_transform(list_distinct(toks),
             u -> len(list_filter(toks, x -> x = u)))) * 1.0 / len(toks) AS top_frac
  FROM t WHERE len(toks) > 0
)
SELECT doc_id,
       (n >= 20 AND n <= 100000) AS ok_word_count,
       (mean_wl >= 3.0 AND mean_wl <= 10.0) AS ok_word_len,
       (alpha_frac >= 0.8) AS ok_alpha,
       (stop_hits >= 2) AS ok_stopwords,
       (top_frac <= 0.2) AS ok_top_word,
       (n >= 20 AND n <= 100000 AND mean_wl >= 3.0 AND mean_wl <= 10.0
        AND alpha_frac >= 0.8 AND stop_hits >= 2 AND top_frac <= 0.2) AS keep
FROM m
"""


# -- real media header sniffing (PNG/GIF/JPEG/WAV, stdlib byte parsing) -----


def q_media_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-stubbed media metadata: synthesize REAL container headers
    (PNG IHDR / GIF logical screen / JPEG SOF0 / WAV fmt chunk) with
    doc_id-determined dimensions, then parse them back with
    multimodal.sniff_media_header. Construction and parsing are independent
    implementations, and the oracle states the expected round-trip in
    closed form — doc_id % 5 == 4 rows carry garbage bytes and must come
    back header_ok = false."""
    import struct

    from realtime_spark.operators.multimodal import sniff_media

    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for b in batches:
            if not len(b):
                continue
            payloads = []
            for did in b["doc_id"]:
                did = int(did)
                w, h = did % 300 + 1, did % 200 + 1
                sr, ch = 8000 + (did % 3) * 4000, 1 + did % 2
                kind = did % 5
                if kind == 0:  # PNG
                    p = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
                         + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00")
                elif kind == 1:  # GIF
                    p = b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"
                elif kind == 2:  # JPEG: APP0 then SOF0
                    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
                    sof0 = (b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
                            + struct.pack(">HH", h, w) + b"\x03" + b"\x00" * 9)
                    p = b"\xff\xd8" + app0 + sof0
                elif kind == 3:  # WAV
                    fmt = struct.pack("<HHIIHH", 1, ch, sr, sr * ch * 2, ch * 2, 16)
                    p = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt)) + b"WAVE"
                         + b"fmt " + struct.pack("<I", len(fmt)) + fmt)
                else:  # garbage
                    p = b"NOTAMEDIAFILE" + did.to_bytes(8, "big")
                payloads.append(p)
            yield pd.DataFrame({"media_id": b["doc_id"].to_numpy(), "payload": payloads})

    media = d.mapInPandas(build, "media_id long, payload binary")
    return sniff_media(media)


ORACLE_MEDIA_SNIFF = """
SELECT doc_id AS media_id,
  CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                  WHEN 2 THEN 'jpeg' WHEN 3 THEN 'wav' END AS format,
  CASE WHEN doc_id % 5 IN (0, 1, 2) THEN CAST(doc_id % 300 + 1 AS INT) END AS width,
  CASE WHEN doc_id % 5 IN (0, 1, 2) THEN CAST(doc_id % 200 + 1 AS INT) END AS height,
  CASE WHEN doc_id % 5 = 3 THEN CAST(8000 + (doc_id % 3) * 4000 AS INT) END AS sample_rate,
  CASE WHEN doc_id % 5 = 3 THEN CAST(1 + doc_id % 2 AS INT) END AS channels,
  (doc_id % 5 <> 4) AS header_ok
FROM documents
"""


# -- IVF-PQ: product-quantization codes + asymmetric-distance ANN -----------

_PQ_M, _PQ_DSUB = 4, _EMB_DIM // 4


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN: centroid subvectors form per-subspace codebooks,
    the corpus is encoded to m=4 codes, and queries rank neighbors by the
    exact-integer ADC sum (micro-L2² units). Distances are fixed to integer
    micro-units before any aggregation, so sums are order-independent and
    the DuckDB oracle reproduces every value bit-for-bit."""
    from realtime_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cents = e.filter(F.expr(_IVF_CENT_PRED))
    q = e.filter(F.expr(_ANN_QUERY_PRED))
    cb = pq_codebook(cents, m=_PQ_M)
    codes = pq_encode(e, cb)
    return pq_adc_topk(codes, q, cb, k=_ANN_K)


def _sql_l2_micro(a: str, b: str) -> str:
    return (
        f"CAST(floor(list_sum(list_transform(range(1, {_PQ_DSUB} + 1), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))) "
        f"* 1000000.0 + 0.5) AS BIGINT)"
    )


ORACLE_ANN_PQ_TOPK = f"""
WITH sub AS (SELECT unnest(range(0, {_PQ_M})) AS j),
cents AS (
  SELECT c.vec_id AS cid, s.j,
         list_slice(c.embedding, s.j * {_PQ_DSUB} + 1, s.j * {_PQ_DSUB} + {_PQ_DSUB}) AS sv
  FROM embeddings c CROSS JOIN sub s WHERE {_IVF_CENT_PRED}
),
vsub AS (
  SELECT e.vec_id, s.j,
         list_slice(e.embedding, s.j * {_PQ_DSUB} + 1, s.j * {_PQ_DSUB} + {_PQ_DSUB}) AS sv
  FROM embeddings e CROSS JOIN sub s
),
dists AS (
  SELECT v.vec_id, v.j, c.cid, {_sql_l2_micro('v.sv', 'c.sv')} AS d
  FROM vsub v JOIN cents c ON v.j = c.j
),
codes AS (
  SELECT vec_id, j, cid AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rn
    FROM dists
  ) WHERE rn = 1
),
qsub AS (
  SELECT q.vec_id AS query_id, s.j,
         list_slice(q.embedding, s.j * {_PQ_DSUB} + 1, s.j * {_PQ_DSUB} + {_PQ_DSUB}) AS sv
  FROM embeddings q CROSS JOIN sub s WHERE {_ANN_QUERY_PRED}
),
dtab AS (
  SELECT q.query_id, q.j, c.cid AS code, {_sql_l2_micro('q.sv', 'c.sv')} AS d_micro
  FROM qsub q JOIN cents c ON q.j = c.j
),
adc AS (
  SELECT t.query_id, k.vec_id AS neighbor_id,
         CAST(SUM(t.d_micro) AS BIGINT) AS adc_micro
  FROM codes k JOIN dtab t ON k.j = t.j AND k.code = t.code
  WHERE t.query_id <> k.vec_id
  GROUP BY t.query_id, k.vec_id
)
SELECT query_id, neighbor_id, adc_micro, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY adc_micro, neighbor_id) AS rank
  FROM adc
) WHERE rank <= {_ANN_K}
"""


def q_ann_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantized ANN: per-dimension min/max codes (JVM-side
    transform, no codebook training), ranked by exact-integer code-space
    L2² — the cheap compression tier below PQ. Stats shuffle carries d
    aggregates; encode + scoring stay in whole-stage codegen."""
    from realtime_spark.operators.similarity import sq_encode, sq_topk

    e = load_table(spark, sf_dir, "embeddings")
    codes = sq_encode(e)
    qids = e.filter(F.expr(_ANN_QUERY_PRED)).select("vec_id")
    return sq_topk(codes, qids, k=_ANN_K)


ORACLE_ANN_SQ_TOPK = f"""
WITH dims AS (
  SELECT r.range AS dim,
         MIN(e.embedding[r.range + 1]) AS mn,
         MAX(e.embedding[r.range + 1]) AS mx
  FROM embeddings e, range({_EMB_DIM}) r GROUP BY 1
),
codes AS (
  SELECT e.vec_id, r.range AS dim,
         CASE WHEN d.mx = d.mn THEN 0
              ELSE CAST(floor((e.embedding[r.range + 1] - d.mn) * 255.0
                              / (d.mx - d.mn) + 0.5) AS INTEGER) END AS c
  FROM embeddings e, range({_EMB_DIM}) r
  JOIN dims d ON d.dim = r.range
),
qv AS (SELECT vec_id AS query_id, dim, c FROM codes WHERE {_ANN_QUERY_PRED}),
l2 AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         CAST(SUM(CAST((q.c - v.c) * (q.c - v.c) AS BIGINT)) AS BIGINT)
           AS l2_code
  FROM codes v JOIN qv q ON v.dim = q.dim AND v.vec_id <> q.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, l2_code, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY l2_code, neighbor_id) AS rank
  FROM l2
) WHERE rank <= {_ANN_K}
"""


_SQ_CAND = 25  # SQ candidate pool reranked exactly down to _ANN_K


def q_ann_sq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: cheap int8 code-space L2 proposes a 25-candidate pool
    per query, exact float cosine reranks it to top-5 — the standard
    compress-then-rerank serving shape. The exact pass touches q x 25
    vectors instead of q x |corpus|; at 100 TB the rerank join is a
    broadcast of (query, candidate) ids against the vector store."""
    from realtime_spark.operators.similarity import (
        cosine_expr,
        sq_encode,
        sq_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    codes = sq_encode(e)
    qids = e.filter(F.expr(_ANN_QUERY_PRED)).select("vec_id")
    cand = sq_topk(codes, qids, k=_SQ_CAND).select("query_id", "neighbor_id")
    qv = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv"))
    nv = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_nv")
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("_qv"), F.col("_nv")), 4).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _ANN_K)
        .select("query_id", "neighbor_id", "cos", F.col("rank").cast("int").alias("rank"))
    )


ORACLE_ANN_SQ_RERANK = f"""
WITH dims AS (
  SELECT r.range AS dim,
         MIN(e.embedding[r.range + 1]) AS mn,
         MAX(e.embedding[r.range + 1]) AS mx
  FROM embeddings e, range({_EMB_DIM}) r GROUP BY 1
),
codes AS (
  SELECT e.vec_id, r.range AS dim,
         CASE WHEN d.mx = d.mn THEN 0
              ELSE CAST(floor((e.embedding[r.range + 1] - d.mn) * 255.0
                              / (d.mx - d.mn) + 0.5) AS INTEGER) END AS c
  FROM embeddings e, range({_EMB_DIM}) r
  JOIN dims d ON d.dim = r.range
),
qv AS (SELECT vec_id AS query_id, dim, c FROM codes WHERE {_ANN_QUERY_PRED}),
l2 AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         SUM(CAST((q.c - v.c) * (q.c - v.c) AS BIGINT)) AS l2_code
  FROM codes v JOIN qv q ON v.dim = q.dim AND v.vec_id <> q.query_id
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY l2_code, neighbor_id) AS rn
    FROM l2
  ) WHERE rn <= {_SQ_CAND}
),
rer AS (
  SELECT c.query_id, c.neighbor_id,
         {_SQL_COS.format(a='q', b='n', r=4)} AS cos
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.query_id
  JOIN embeddings n ON n.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rank
  FROM rer
) WHERE rank <= {_ANN_K}
"""


def q_ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF bucket pruning + PQ code scoring — the composed production ANN."""
    from realtime_spark.operators.similarity import ivf_pq_topk, pq_codebook

    e = load_table(spark, sf_dir, "embeddings")
    cents = e.filter(F.expr(_IVF_CENT_PRED))
    q = e.filter(F.expr(_ANN_QUERY_PRED))
    cb = pq_codebook(cents, m=_PQ_M)
    return ivf_pq_topk(e, q, cents, cb, k=_ANN_K, nprobe=_IVF_NPROBE)


ORACLE_ANN_IVF_PQ_TOPK = f"""
WITH cents0 AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE {_IVF_CENT_PRED}),
asg0 AS (
  SELECT e.vec_id AS nid, c.centroid_id,
         {_SQL_VEC_COS.format(a='e.embedding', b='c.embedding', r=6)} AS c_cos
  FROM embeddings e CROSS JOIN cents0 c
),
asg AS (
  SELECT nid, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY nid
              ORDER BY c_cos DESC, centroid_id) AS rn
    FROM asg0
  ) WHERE rn = 1
),
probes0 AS (
  SELECT q.vec_id AS query_id, c.centroid_id,
         {_SQL_VEC_COS.format(a='q.embedding', b='c.embedding', r=6)} AS qc_cos
  FROM embeddings q CROSS JOIN cents0 c WHERE {_ANN_QUERY_PRED}
),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY qc_cos DESC, centroid_id) AS rn
    FROM probes0
  ) WHERE rn <= {_IVF_NPROBE}
),
sub AS (SELECT unnest(range(0, {_PQ_M})) AS j),
csub AS (
  SELECT c.centroid_id AS cid, s.j,
         list_slice(c.embedding, s.j * {_PQ_DSUB} + 1, s.j * {_PQ_DSUB} + {_PQ_DSUB}) AS sv
  FROM cents0 c CROSS JOIN sub s
),
vsub AS (
  SELECT e.vec_id, s.j,
         list_slice(e.embedding, s.j * {_PQ_DSUB} + 1, s.j * {_PQ_DSUB} + {_PQ_DSUB}) AS sv
  FROM embeddings e CROSS JOIN sub s
),
dists AS (
  SELECT v.vec_id, v.j, c.cid, {_sql_l2_micro('v.sv', 'c.sv')} AS d
  FROM vsub v JOIN csub c ON v.j = c.j
),
codes AS (
  SELECT vec_id, j, cid AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, cid) AS rn
    FROM dists
  ) WHERE rn = 1
),
qsub AS (
  SELECT q.vec_id AS query_id, s.j,
         list_slice(q.embedding, s.j * {_PQ_DSUB} + 1, s.j * {_PQ_DSUB} + {_PQ_DSUB}) AS sv
  FROM embeddings q CROSS JOIN sub s WHERE {_ANN_QUERY_PRED}
),
dtab AS (
  SELECT q.query_id, q.j, c.cid AS code, {_sql_l2_micro('q.sv', 'c.sv')} AS d_micro
  FROM qsub q JOIN csub c ON q.j = c.j
),
adc AS (
  SELECT t.query_id, k.vec_id AS neighbor_id,
         CAST(SUM(t.d_micro) AS BIGINT) AS adc_micro
  FROM codes k
  JOIN asg a ON a.nid = k.vec_id
  JOIN probes p ON p.centroid_id = a.centroid_id
  JOIN dtab t ON k.j = t.j AND k.code = t.code AND t.query_id = p.query_id
  WHERE t.query_id <> k.vec_id
  GROUP BY t.query_id, k.vec_id
)
SELECT query_id, neighbor_id, adc_micro, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY adc_micro, neighbor_id) AS rank
  FROM adc
) WHERE rank <= {_ANN_K}
"""


# -- Unicode normalization hygiene (NFC + accent strip) ---------------------


def q_text_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real Unicode work on a synthetic accent injection: every 'a' becomes
    decomposed a+COMBINING ACUTE (two codepoints); NFC must re-compose it
    (length shrinks back) and accent stripping must restore the original
    text byte-for-byte. Python unicodedata vs DuckDB nfc_normalize/
    strip_accents are independent implementations of the same standard."""
    from realtime_spark.operators.text import unicode_normalize_cols

    d = load_table(spark, sf_dir, "documents")
    mod = F.regexp_replace(F.col("text"), "a", "a\u0301")
    u = unicode_normalize_cols(mod)
    return d.select(
        "doc_id",
        u["raw_len"].alias("raw_len"),
        u["nfc_len"].alias("nfc_len"),
        F.md5(u["stripped"]).alias("stripped_md5"),
        (u["stripped"] == F.col("text")).alias("strip_restores"),
    )


ORACLE_TEXT_UNICODE = """
WITH m AS (
  SELECT doc_id, text, replace(text, 'a', 'a' || chr(769)) AS mod
  FROM documents
)
SELECT doc_id,
       CAST(length(mod) AS INT) AS raw_len,
       CAST(length(nfc_normalize(mod)) AS INT) AS nfc_len,
       md5(strip_accents(nfc_normalize(mod))) AS stripped_md5,
       (strip_accents(nfc_normalize(mod)) = text) AS strip_restores
FROM m
"""


# -- Flesch reading ease + language-mix ratio -------------------------------


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch Reading Ease with the standard vowel-group syllable heuristic:
    206.835 - 1.015*(words/sentences) - 84.6*(syllables/words). Pure
    codegen'd expressions: regexp_count per token for syllables (explode-
    free: transform + aggregate over the token array), sentence count from
    terminal punctuation runs."""
    from realtime_spark.operators.dedup import tokens_expr
    from realtime_spark.operators.text import quantize

    d = load_table(spark, sf_dir, "documents")
    toks = tokens_expr(F.col("text"))
    n_words = F.size(toks)
    syls = F.aggregate(
        F.transform(
            toks, lambda t: F.greatest(F.regexp_count(t, F.lit("[aeiouy]+")), F.lit(1))
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    sentences = F.greatest(F.regexp_count(F.col("text"), F.lit("[.!?]+")), F.lit(1))
    score = (
        F.lit(206.835)
        - 1.015 * (n_words.cast("double") / sentences.cast("double"))
        - 84.6 * (syls.cast("double") / n_words.cast("double"))
    )
    return d.filter(n_words > 0).select(
        "doc_id",
        n_words.alias("n_words"),
        syls.alias("n_syllables"),
        sentences.alias("n_sentences"),
        quantize(score, 4).alias("flesch"),
    )


ORACLE_TEXT_READABILITY = f"""
WITH t AS (SELECT doc_id, text, {SQL_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         list_sum(list_transform(toks,
             tk -> greatest(len(regexp_extract_all(tk, '[aeiouy]+')), 1))) AS n_syllables,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences
  FROM t WHERE len(toks) > 0
)
SELECT doc_id, CAST(n_words AS INT) AS n_words,
       CAST(n_syllables AS INT) AS n_syllables,
       CAST(n_sentences AS INT) AS n_sentences,
       floor((206.835 - 1.015 * (n_words * 1.0 / n_sentences)
              - 84.6 * (n_syllables * 1.0 / n_words)) * 10000.0 + 0.5) / 10000.0 AS flesch
FROM m
"""


def q_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-language evidence: ratio of the runner-up language's stopword
    score to the winner's. ~0 = clean single-language doc; near 1 = code-
    switching or concatenated-language content (a standard corpus filter)."""
    from realtime_spark.operators.text import STOPWORDS, quantize, words_expr

    d = load_table(spark, sf_dir, "documents")
    toks = words_expr(F.col("text"))
    n = F.size(toks)
    scored = []
    for lang, stops in sorted(STOPWORDS.items()):
        arr = F.array(*[F.lit(s) for s in stops])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
        scored.append(
            F.round(F.when(n > 0, hits / n).otherwise(F.lit(0.0)), 6)
        )
    allscores = F.array_sort(F.array(*scored))
    best = F.element_at(allscores, -1)
    second = F.element_at(allscores, -2)
    return d.select(
        "doc_id",
        quantize(best, 4).alias("best_score"),
        quantize(
            F.when(best > 0, second / best).otherwise(F.lit(0.0)), 4
        ).alias("mix_ratio"),
    )


def _oracle_lang_mix() -> str:
    from realtime_spark.operators.text import STOPWORDS

    scores = ", ".join(
        f"{_sql_lang_score(lg, STOPWORDS[lg])} AS s_{lg}" for lg in _LANGS
    )
    lst = "[" + ", ".join(f"s_{lg}" for lg in _LANGS) + "]"
    return f"""
WITH t AS (SELECT doc_id, {_SQL_WORDS} AS toks FROM documents),
s AS (SELECT doc_id, {scores} FROM t),
o AS (SELECT doc_id, list_sort({lst}) AS ss FROM s)
SELECT doc_id,
       floor(ss[5] * 10000.0 + 0.5) / 10000.0 AS best_score,
       floor((CASE WHEN ss[5] > 0 THEN ss[4] / ss[5] ELSE 0.0 END)
             * 10000.0 + 0.5) / 10000.0 AS mix_ratio
FROM o
"""


# -- daily-ingest keep list: the composed incremental production pipeline ---


def q_daily_ingest_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One day's batch against the standing corpus, end to end: quality+lang
    admission gates, incremental exact dedup against the corpus digest set,
    then LSH near-dup rejection against the persisted band index — the
    composition a production ingest actually runs (dedup_incremental +
    write_lsh_index/lsh_candidates_against_index + the corpus_clean gates).
    Standing corpus = original doc_ids; batch = the injected exact (1M) and
    near (2M) duplicates. Output: the batch doc_ids that survive."""
    import os

    from realtime_spark.operators.dedup import (
        dedup_incremental,
        lsh_candidates_against_index,
        write_lsh_index,
    )
    from realtime_spark.operators.text import lang_quality_cols

    from realtime_spark.operators.dedup import tokens_expr

    d = docs_with_dups(spark, sf_dir)
    standing = d.filter(F.col("doc_id") < 1000000)
    # batch = injected exact (1M) + near (2M) dups PLUS genuinely new docs
    # (token-reversed originals, 3M range) — so the keep list is non-trivial:
    # the dups must be rejected and the new docs must survive
    new_docs = standing.filter(F.col("doc_id") % 10 == 2).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.array_join(F.reverse(tokens_expr(F.col("text"))), " ").alias("text"),
    )
    batch = d.filter(F.col("doc_id") >= 1000000).unionByName(new_docs)

    # checkpoint before filtering: predicate pushdown would otherwise inline
    # the staged lang/quality expressions into the filter condition (see
    # q_corpus_clean_pipeline) — the gate scores are the ingest log's
    # admission record, so the boundary is natural
    scored = lang_quality_cols(
        batch, "text", lang_out="lg", q_out="q"
    ).localCheckpoint()
    gated = (
        scored.filter((F.col("q") >= 0.5) & (F.col("lg") != "und"))
        .select("doc_id", "text")
    )

    digests = standing.select(F.md5("text").alias("digest"))
    fresh = dedup_incremental(gated, digests, "doc_id", "text")
    # Materialize the exact-dedup survivors before the LSH probe: `fresh`
    # feeds BOTH the index probe and the final anti-join, and its lineage
    # (dup-injection -> quality/lang gates -> digest anti-join) is a large
    # expression tree — without the cut, Catalyst replans and the executors
    # recompute that tree on every reuse (measured 40s -> ~4s at sf0.01,
    # task binaries 10.9 MiB -> KBs). Production ingest has this boundary
    # naturally: the accepted batch is written to the ingest log first.
    fresh = fresh.localCheckpoint()

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    path = f"/tmp/realtime_spark_ingest_lsh_{sf_tag}_{os.getpid()}"  # pid-scoped: concurrent sessions must not race on the scratch index
    write_lsh_index(standing, path, num_hashes=_MH_HASHES, bands=_MH_BANDS, k=3)
    near = lsh_candidates_against_index(
        fresh, spark.read.parquet(path),
        num_hashes=_MH_HASHES, bands=_MH_BANDS, k=3,
    ).select(F.col("new_doc").alias("doc_id")).distinct()

    return fresh.join(F.broadcast(near), "doc_id", "left_anti").select("doc_id")


def _oracle_daily_ingest() -> str:
    lang = _oracle_lang_id().replace("FROM documents", "FROM _docs_ingest")
    quality = _oracle_quality().replace("FROM documents", "FROM _docs_ingest")
    banded = _SQL_BANDED_CTES.replace("_docs_dup", "_docs_ingest")
    return f"""
WITH {DOCS_DUP_CTE.strip()},
_docs_ingest AS (
  SELECT doc_id, text FROM _docs_dup
  UNION ALL
  SELECT doc_id + 3000000,
         COALESCE(array_to_string(list_reverse({SQL_TOKS}), ' '), '')
  FROM _docs_dup WHERE doc_id % 10 = 2 AND doc_id < 1000000
),
lg AS ({lang}),
qu AS ({quality}),
gated AS (
  SELECT d.doc_id, d.text
  FROM _docs_ingest d JOIN lg USING (doc_id) JOIN qu USING (doc_id)
  WHERE d.doc_id >= 1000000 AND qu.quality >= 0.5 AND lg.detected_lang <> 'und'
),
standing_digests AS (
  SELECT DISTINCT md5(text) AS digest FROM _docs_ingest WHERE doc_id < 1000000
),
no_exact AS (
  SELECT g.doc_id, g.text FROM gated g
  WHERE md5(g.text) NOT IN (SELECT digest FROM standing_digests)
),
fresh AS (
  SELECT doc_id, text FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM no_exact
  ) WHERE rn = 1
),
{banded.strip().rstrip()},
near AS (
  SELECT DISTINCT f.doc_id
  FROM fresh f
  JOIN banded nb ON nb.doc = f.doc_id
  JOIN banded cb ON cb.band = nb.band AND cb.key = nb.key AND cb.doc < 1000000
)
SELECT doc_id FROM fresh WHERE doc_id NOT IN (SELECT doc_id FROM near)
"""


# -- PageRank (exact integer micro-units) over the user/event-type graph ----

_PR_ITERS = 8


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank on the bipartite user <-> event_type interaction
    graph (types as nodes 1000000+idx). Integer micro-unit arithmetic makes
    every iteration exact; the oracle unrolls the same 8 iterations as
    chained CTEs."""
    from realtime_spark.operators.graph import pagerank

    e = load_table(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct()
    types = (
        ut.select("event_type").distinct()
        .withColumn(
            "tid",
            1000000
            + F.row_number().over(
                Window.orderBy("event_type")
            ).cast("bigint"),
        )
    )
    utt = ut.join(types, "event_type")
    edges = utt.select(
        F.col("user_id").alias("src"), F.col("tid").alias("dst")
    ).unionByName(utt.select(F.col("tid").alias("src"), F.col("user_id").alias("dst")))
    return pagerank(edges, iterations=_PR_ITERS).select("node", "rank_micro")


def _oracle_pagerank() -> str:
    head = """
ut AS (SELECT DISTINCT user_id, event_type FROM events),
tidx AS (
  SELECT event_type,
         1000000 + row_number() OVER (ORDER BY event_type) AS tid
  FROM (SELECT DISTINCT event_type FROM events)
),
edges AS (
  SELECT u.user_id AS src, t.tid AS dst FROM ut u JOIN tidx t USING (event_type)
  UNION ALL
  SELECT t.tid AS src, u.user_id AS dst FROM ut u JOIN tidx t USING (event_type)
),
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst AS node FROM edges),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)"""
    parts = [head]
    for i in range(_PR_ITERS):
        parts.append(f""",
c{i + 1} AS (
  SELECT e.dst AS node, SUM(p.r // d.deg) AS s
  FROM edges e JOIN deg d ON e.src = d.src JOIN pr{i} p ON p.node = e.src
  GROUP BY e.dst
),
pr{i + 1} AS (
  SELECT n.node, CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r
  FROM nodes n LEFT JOIN c{i + 1} c USING (node)
)""")
    return (
        "WITH " + "".join(parts)
        + f"\nSELECT node, r AS rank_micro FROM pr{_PR_ITERS}"
    )


# -- per-source distribution drift: KL(source || corpus) --------------------


def q_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift per source slice: KL(p_source || p_corpus)
    with add-one smoothing over the shared vocabulary. The monitoring
    query a corpus pipeline runs per ingest batch to catch a source gone
    off-distribution. Each per-token KL term is quantized to 1e-12 units
    and summed as exact integers — float KL sums would depend on partition
    order. One explode + two map-side-combined count aggs; the per-source
    term stream shuffles only (source, token-digest) pairs."""
    from realtime_spark.operators.dedup import tokens_expr

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(tokens_expr(F.col("text"))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_all"))
    per_src = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c_src"))
    totals = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    v_size = vocab.agg(
        F.count(F.lit(1)).alias("v"), F.sum("c_all").alias("n_all")
    )
    joined = (
        per_src.join(vocab, "tok")
        .join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(v_size))
    )
    p_s = (F.col("c_src") + 1).cast("double") / (F.col("n_src") + F.col("v")).cast("double")
    p_c = (F.col("c_all") + 1).cast("double") / (F.col("n_all") + F.col("v")).cast("double")
    term = p_s * (F.log(p_s) - F.log(p_c))
    # NOTE: tokens absent from a source contribute smoothed mass too; they are
    # omitted here (standard "observed-support" KL) — the oracle matches.
    out = joined.select(
        "source", F.floor(term * 1e12 + F.lit(0.5)).cast("long").alias("t12")
    ).groupBy("source").agg(F.sum("t12").alias("kl_p12"))
    return out.join(totals, "source").select(
        "source", "n_src", "kl_p12"
    )


ORACLE_SOURCE_DRIFT = f"""
WITH t AS (
  SELECT source, unnest({SQL_TOKS}) AS tok FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS c_all FROM t GROUP BY tok),
per_src AS (SELECT source, tok, COUNT(*) AS c_src FROM t GROUP BY source, tok),
totals AS (SELECT source, COUNT(*) AS n_src FROM t GROUP BY source),
vs AS (SELECT COUNT(*) AS v, SUM(c_all) AS n_all FROM vocab),
terms AS (
  SELECT p.source,
    CAST(floor(
      ((p.c_src + 1) * 1.0 / (tt.n_src + vs.v))
      * (ln((p.c_src + 1) * 1.0 / (tt.n_src + vs.v))
         - ln((v.c_all + 1) * 1.0 / (vs.n_all + vs.v)))
      * 1e12 + 0.5) AS BIGINT) AS t12
  FROM per_src p JOIN vocab v USING (tok) JOIN totals tt USING (source)
  CROSS JOIN vs
)
SELECT s.source, tt.n_src, CAST(SUM(s.t12) AS BIGINT) AS kl_p12
FROM terms s JOIN totals tt USING (source)
GROUP BY s.source, tt.n_src
"""


# -- incremental aggregate maintenance from the CDC feed --------------------


def q_cdc_ivm_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained SUM(o_totalprice) per customer from the change feed: the
    UPDATE old_records carry the changed_columns fixture's price rule
    (change_id%3=0 -> old price was +1.5), so updates contribute real
    deltas; inserts add, deletes retract."""
    from realtime_spark.operators.materialize import ivm_sum_cents
    from realtime_spark.sources.testdata import changes_from_orders

    changes = changes_from_orders(spark, sf_dir)
    key = F.col("change_id")
    old = F.col("old_record")
    old_mod = F.when(
        (F.col("action") == "UPDATE") & (key % 3 == 0),
        F.map_concat(
            F.map_filter(old, lambda k, v: k != "o_totalprice"),
            F.create_map(
                F.lit("o_totalprice"),
                (F.element_at(F.col("record"), "o_totalprice").cast("double") + 1.5)
                .cast("string"),
            ),
        ),
    ).otherwise(old)
    changes = changes.withColumn("old_record", old_mod)
    out = ivm_sum_cents(changes, "o_custkey", "o_totalprice")
    return out.select(
        F.col("o_custkey").cast("long").alias("o_custkey"),
        "sum_cents",
        "n_changes",
    )


ORACLE_CDC_IVM_SUM = f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()},
deltas AS (
  SELECT o_custkey,
    CASE
      WHEN action = 'INSERT' THEN CAST(round(o_totalprice * 100) AS BIGINT)
      WHEN action = 'UPDATE' THEN
        CAST(round(o_totalprice * 100) AS BIGINT)
        - CAST(round((CASE WHEN change_id % 3 = 0 THEN o_totalprice + 1.5
                           ELSE o_totalprice END) * 100) AS BIGINT)
      ELSE -CAST(round(o_totalprice * 100) AS BIGINT)
    END AS d
  FROM _orders_changes
)
SELECT o_custkey, CAST(SUM(d) AS BIGINT) AS sum_cents,
       COUNT(*) AS n_changes
FROM deltas GROUP BY o_custkey
"""
