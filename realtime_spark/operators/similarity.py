"""Similarity search over embedding columns (beyond-reference operators).

Brute-force cosine top-k is the exactness baseline; IVF (inverted-file)
centroid bucketing is the 100 TB scale path. Pairwise scoring stays
JVM-side: `F.zip_with` + `F.aggregate` compute dot products inside
whole-stage codegen. The one deliberate exception is centroid assignment
(`ivf_assign`): a batch-of-rows x centroid-matrix product is exactly the
shape Arrow-batched pandas UDFs are for — one numpy pass per batch beats
both a join+window (re-shuffles the corpus) and a JVM array fold
(interpreted per element).

Scale notes (100 TB design):
  - brute-force: the query set is broadcast (small dim), the corpus is
    scanned exactly once; the only shuffle carries (query_id, neighbor_id,
    cos) candidate rows — never the vectors themselves. Per-partition
    pre-pruning keeps the shuffle at O(q * k * partitions).
  - IVF: centroids are broadcast twice (assignment scan + query routing); the
    bucket join is an equi-join on centroid_id, so Catalyst shuffles only the
    probed buckets. nprobe > 1 multiplies probed volume linearly.
  - All math is double-precision with a deterministic left-to-right sum so
    the duckdb oracle (list_dot_product) reproduces values bit-for-bit
    before rounding.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# Top-k SERVING operators (IVF probe, PQ/IVF-PQ ADC) collect the query set
# driver-side to build probe/distance tables — bounded by |queries| x nprobe
# by contract. The cap makes the bound explicit: a caller passing a bulk
# query set (the "join every doc against the index" job) gets a clean error
# pointing at the bulk-join formulations instead of melting the driver.
QUERY_COLLECT_MAX = 100_000

ID, VEC = "vec_id", "embedding"
# cosine rounding of every ranked or thresholded score
DIGITS = 4


def _collect_bounded(df: DataFrame, what: str) -> list:
    rows = df.limit(QUERY_COLLECT_MAX + 1).collect()
    if len(rows) > QUERY_COLLECT_MAX:
        raise ValueError(
            f"{what}: query set exceeds QUERY_COLLECT_MAX="
            f"{QUERY_COLLECT_MAX} rows. These operators serve bounded query"
            " batches (driver-side probe/ADC tables); for bulk all-vs-index"
            " scoring use brute_force_topk / cosine_near_dups /"
            " semdedup-style joins, or split the query set."
        )
    return rows


def dot_expr(a: Column, b: Column) -> Column:
    """Left-to-right double-precision dot product, JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity, NULL when either vector has zero norm (a zero
    vector has no direction). The guard is load-bearing twice over: under
    ANSI mode a bare division crashes the whole job on the first zero
    vector, and the NaN alternative orders DIFFERENTLY across engines
    (DuckDB ranks NaN above +inf, so `NaN > threshold` is true there and
    false in Spark). NULL is the one value both engines agree on: fails
    every threshold, sorts last under DESC. Oracles mirror with an
    explicit CASE WHEN on the norm product."""
    d = norm_expr(a) * norm_expr(b)
    return F.when(d != 0.0, dot_expr(a, b) / d)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    `queries` (small) is broadcast against `corpus` (one scan); ranking uses
    the rounded cosine with id tie-break so results are representation-stable
    across engines. Output: (query_id, neighbor_id, cos, rank).

    Scale shape: cosines are computed JVM-side during the broadcast join;
    each scan partition then pre-prunes to its LOCAL top-k per query
    (mapInPandas over the narrow (query_id, neighbor_id, cos) triplets —
    Python never sees a vector), so the ranking exchange carries at most
    q x k x partitions rows instead of q x |corpus|. The local prune keeps a
    superset of the global top-k, so the final window is still exact.
    """
    q = F.broadcast(
        queries.select(
            F.col(ID).alias("query_id"), F.col(VEC).alias("q_vec")
        )
    )
    c = corpus.select(F.col(ID).alias("neighbor_id"), F.col(VEC).alias("c_vec"))
    scored = (
        c.join(q, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("q_vec"), F.col("c_vec")), DIGITS).alias("cos"),
        )
    )

    def _local_topk(batches):
        # incremental prune: fold each Arrow batch into a running per-query
        # top-k so Python holds at most (q x k + one batch) rows — a single
        # pd.concat of the whole partition would materialize q x |partition|
        # scored triplets before any pruning
        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            merged = pdf if acc is None else pd.concat([acc, pdf], ignore_index=True)
            merged = merged.sort_values(
                ["query_id", "cos", "neighbor_id"], ascending=[True, False, True]
            )
            acc = merged.groupby("query_id", sort=False).head(k)
        if acc is not None and len(acc):
            yield acc

    pruned = scored.mapInPandas(_local_topk, scored.schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_assign(
    corpus: DataFrame, centroids: DataFrame, id_col: str = ID, vec_col: str = VEC
) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine (IVF build).

    The scoring UDF is marked non-deterministic (see the inline note at
    the asNondeterministic call), which also blocks pushdown of UNRELATED
    selective predicates below the projection — apply any non-centroid
    filters to `corpus` BEFORE calling ivf_assign, or filtered-out rows
    pay centroid scoring they used to skip (r10 ADVICE; every current
    caller already pre-filters, audited in OPTIMIZATION_r11.md).

    The centroid set (tiny by contract: k x dim) is collected and baked
    into an Arrow-batched pandas UDF that scores a whole vector batch
    against the centroid matrix at once — a single corpus scan with ZERO
    shuffle. (Two prior formulations lost: joining corpus x centroids then
    ranking with a row_number window re-shuffled the entire corpus
    including its embedding arrays — fatal at scale; a JVM higher-order
    fold avoided the shuffle but ran ~2x slower than codegen because
    nested array lambdas are interpreted per element.)

    Numerics are kept bit-for-bit identical to the JVM `cosine_expr` path:
    dot products and norms accumulate LEFT-TO-RIGHT over dimensions in
    float64 (vectorized across the batch, sequential across dims — not
    numpy's pairwise matmul sum), and rounding is HALF_UP like Spark's
    `round`, so the DuckDB oracle reproduces every value.

    Output: corpus + (centroid_id, c_cos). Deterministic: ties broken by
    smallest centroid_id on the rounded score (cids sorted ascending;
    argmax takes the first maximum).
    """
    rows = sorted(
        centroids.select(id_col, vec_col).collect(), key=lambda r: r[0]
    )
    if not rows:
        raise ValueError("ivf_assign: centroid set is empty")
    cids = np.array([r[0] for r in rows])
    cmat = np.array([list(r[1]) for r in rows], dtype=np.float64)  # k x d
    cid_sql = centroids.schema[id_col].dataType.simpleString()
    scale = 10.0 ** 6

    def _seq_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        # (n x d) x (k x d) -> n x k, accumulating dims left-to-right
        out = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
        for i in range(a.shape[1]):
            out += a[:, i, None] * b[None, :, i]
        return out

    @pandas_udf(f"struct<cid:{cid_sql},cos:double>")
    def _assign(vecs: pd.Series) -> pd.DataFrame:
        v = np.array(vecs.to_list(), dtype=np.float64)  # n x d
        vn = np.zeros(v.shape[0], dtype=np.float64)
        cn = np.zeros(cmat.shape[0], dtype=np.float64)
        for i in range(v.shape[1]):
            vn += v[:, i] * v[:, i]
            cn += cmat[:, i] * cmat[:, i]
        denom = np.sqrt(vn)[:, None] * np.sqrt(cn)[None, :]
        # zero-norm convention mirrors cosine_expr: the cosine is NULL, and
        # NULL ranks LAST — numpy's argmax treats NaN as maximal, the exact
        # opposite of both engines' NULLS-LAST ordering, so the pick runs
        # over -inf-masked scores (all-masked row -> index 0 = smallest
        # centroid_id, same as the oracle's all-NULL tie-break)
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = _seq_dot(v, cmat) / np.where(denom == 0.0, np.nan, denom)
        # HALF_UP like Spark round() (numpy rounds half-to-even)
        cos = np.copysign(np.floor(np.abs(cos) * scale + 0.5) / scale, cos)
        idx = np.argmax(np.where(np.isnan(cos), -np.inf, cos), axis=1)
        best = cos[np.arange(len(idx)), idx]
        return pd.DataFrame(
            {
                "cid": cids[idx],
                "cos": pd.array(
                    np.where(np.isnan(best), None, best), dtype="Float64"
                ),
            }
        )

    # asNondeterministic (r10, guide section 4.4): a downstream filter on
    # centroid_id gets pushed below the Project and DUPLICATES the UDF —
    # two ArrowEvalPython nodes scoring the full corpus against the
    # centroid matrix twice (seen in the ann_ivf_pq_topk plan). The values
    # are untouched (pure per-row function); the marking only forbids the
    # optimizer from re-evaluating it around pushed predicates.
    _assign_nd = _assign.asNondeterministic()
    return corpus.withColumn("_best", _assign_nd(F.col(vec_col))).select(
        corpus["*"],
        F.col("_best")["cid"].alias("centroid_id"),
        F.col("_best")["cos"].alias("c_cos"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """ANN top-k via IVF: compare each query only against vectors whose
    nearest centroid is among the query's `nprobe` nearest centroids.

    At scale the corpus is pre-assigned once (ivf_assign persisted,
    partitioned by centroid_id); the search is an equi-join on centroid_id —
    only the probed buckets shuffle. Output matches brute_force_topk's shape;
    recall < 1.0 by design (approximate).
    """
    assigned = ivf_assign(corpus, centroids).select(
        F.col(ID).alias("neighbor_id"),
        F.col(VEC).alias("c_vec"),
        "centroid_id",
    )
    cents = F.broadcast(
        centroids.select(
            F.col(ID).alias("centroid_id"), F.col(VEC).alias("cent_vec")
        )
    )
    q = queries.select(F.col(ID).alias("query_id"), F.col(VEC).alias("q_vec"))
    q_scored = q.join(cents).select(
        "query_id",
        "q_vec",
        "centroid_id",
        F.round(cosine_expr(F.col("q_vec"), F.col("cent_vec")), 6).alias("qc_cos"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("qc_cos"), F.asc("centroid_id"))
    probes = F.broadcast(
        q_scored.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "q_vec", "centroid_id")
    )
    scored = (
        assigned.join(probes, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("q_vec"), F.col("c_vec")), DIGITS).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def write_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Build and persist the IVF index: corpus vectors assigned to their
    nearest centroid, stored partitioned BY centroid_id. At scale this is the
    one-time (or incremental) index build; every subsequent search reads only
    the probed centroid partitions — the on-disk analog of an inverted file.
    """
    assigned = ivf_assign(corpus, centroids)
    assigned.write.mode(mode).partitionBy("centroid_id").parquet(path)


def read_ivf_index(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def ivf_topk_from_index(
    index: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """ANN top-k over a persisted IVF index (see write_ivf_index).

    The probe set (queries × nprobe nearest centroids) is resolved first and
    its centroid ids are baked into the scan filter as literals, so the
    partitioned index prunes to the probed partitions (PartitionFilters:
    In(centroid_id, …)) — the search reads |probes| buckets, not the corpus.
    Output matches ivf_topk exactly for the same corpus/centroids.
    """
    cents = F.broadcast(
        centroids.select(
            F.col(ID).alias("centroid_id"), F.col(VEC).alias("cent_vec")
        )
    )
    q = queries.select(F.col(ID).alias("query_id"), F.col(VEC).alias("q_vec"))
    q_scored = q.join(cents).select(
        "query_id",
        "q_vec",
        "centroid_id",
        F.round(cosine_expr(F.col("q_vec"), F.col("cent_vec")), 6).alias("qc_cos"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("qc_cos"), F.asc("centroid_id"))
    probes = (
        q_scored.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "q_vec", "centroid_id")
    )
    probe_rows = _collect_bounded(
        probes.select("query_id", "centroid_id"), "ivf_topk probes"
    )
    probed_ids = sorted({r["centroid_id"] for r in probe_rows})
    bucket_scan = index.filter(F.col("centroid_id").isin(probed_ids)).select(
        F.col(ID).alias("neighbor_id"),
        F.col(VEC).alias("c_vec"),
        "centroid_id",
    )
    scored = (
        bucket_scan.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("q_vec"), F.col("c_vec")), DIGITS).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def srp_planes(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-0.5, 0.5): component
    (p, i) is derived from md5(f"srp:{p}:{i}") so Spark, the DuckDB oracle,
    and any re-run agree bit-for-bit with no RNG state to ship around."""
    import hashlib

    out = []
    for p in range(num_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"srp:{p}:{i}".encode()).hexdigest()[:12]
            row.append(int(h, 16) / float(16**12) - 0.5)
        out.append(row)
    return out


def srp_buckets(df: DataFrame, num_planes: int = 16, dim: int = 64) -> DataFrame:
    """Hyperplane LSH (signed random projection) bucket per vector: bit p of
    the bucket is 1 iff dot(v, plane_p) >= 0. Cosine-similar vectors agree on
    most sign bits, so near-duplicates collide on the full bucket.

    Shape: the plane set is a tiny broadcast side (num_planes rows); one
    corpus scan computes all dots, then a groupBy(id) bit-sum (map-side
    combined) folds the bits — the shuffle carries (id, plane_id, bit) only,
    never vectors. This is the LSH-bucketed scale path for embedding near-dup:
    candidates = pairs sharing a bucket, scored exactly afterwards.
    """
    spark = df.sparkSession
    planes = spark.createDataFrame(
        [(p, vec) for p, vec in enumerate(srp_planes(num_planes, dim))],
        "plane_id int, plane array<double>",
    )
    dots = df.join(F.broadcast(planes)).select(
        F.col(ID).alias("doc"),
        "plane_id",
        (dot_expr(F.col(VEC), F.col("plane")) >= 0).alias("bit"),
    )
    return (
        dots.groupBy(F.col("doc").alias(ID))
        .agg(
            F.sum(
                F.when(F.col("bit"), F.expr("shiftleft(CAST(1 AS BIGINT), plane_id)"))
                .otherwise(F.lit(0).cast("bigint"))
            ).alias("srp_bucket")
        )
    )


def srp_candidate_pairs(
    df: DataFrame,
    num_planes: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-dup candidate pairs: vectors sharing an SRP bucket.
    Bucket sizes are bounded by true near-dup neighborhoods (16 sign bits ≈
    1/65536 of random space), so the in-bucket pairing stays small; pairs
    are generated from a bucket groupBy, not a self-join, so the bucket scan
    runs once. Output: (doc_a, doc_b), doc_a < doc_b."""
    b = srp_buckets(df, num_planes, dim)
    buckets = (
        b.groupBy("srp_bucket")
        .agg(F.sort_array(F.collect_set(F.col(ID))).alias("docs"))
        .filter(F.size("docs") > 1)
    )
    n = F.size(F.col("docs"))
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), n - 1),
                    lambda i: F.transform(
                        F.slice(F.col("docs"), i + 1, n),
                        lambda y: F.struct(
                            F.element_at(F.col("docs"), i).alias("doc_a"),
                            y.alias("doc_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select(F.col("p.doc_a"), F.col("p.doc_b"))


def cosine_near_dup_pairs(df: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a < b) with cos >= t.

    Quadratic by nature; at 100 TB this runs *after* IVF bucketing (join on
    centroid_id) so only same-bucket pairs are scored. Here the all-pairs
    variant is the oracle-checkable baseline. Output: (doc_a, doc_b, cos).
    """
    a = df.select(F.col(ID).alias("doc_a"), F.col(VEC).alias("va"))
    b = df.select(F.col(ID).alias("doc_b"), F.col(VEC).alias("vb"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(cosine_expr(F.col("va"), F.col("vb")), DIGITS).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 1,
) -> DataFrame:
    """Lloyd's k-means refinement of IVF centroids: assign each vector to
    its nearest centroid (cosine), recompute each centroid as the
    element-wise mean of its members, repeat. Output: (centroid_id,
    cent_vec array<double>, n_members). Clusters that lose all members drop
    out (standard Lloyd behavior).

    Scale shape per iteration:
      - assignment: the k x dim centroid set is collected to the driver and
        baked into the assignment UDF (standard Lloyd's: centroids are tiny
        and must be materialized each round anyway) — a single corpus scan,
        no vector shuffle (ivf_assign). Corpus vectors are NEVER collected.
      - mean: posexplode to (centroid, dim, value) then two map-side-
        combined aggregations; the shuffle carries |partitions| x k x dim
        partial sums, never the vectors.
    """
    if iters < 1:
        raise ValueError("kmeans_refine: iters must be >= 1")
    cents = centroids.select(
        F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col)
    )
    for _ in range(iters):
        asg = ivf_assign(corpus, cents, id_col, vec_col).select(
            "centroid_id", F.posexplode(vec_col).alias("pos", "val")
        )
        dims = asg.groupBy("centroid_id", "pos").agg(
            F.avg(F.col("val").cast("double")).alias("mean"),
            F.count(F.lit(1)).alias("cnt"),
        )
        new = dims.groupBy("centroid_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mean"))),
                lambda s: s.getField("mean"),
            ).alias("cent_vec"),
            F.max("cnt").alias("n_members"),
        )
        cents = new.select(
            F.col("centroid_id").alias(id_col),
            F.col("cent_vec").alias(vec_col),
        )
        last = new
    return last.select(
        "centroid_id", F.col("cent_vec"), F.col("n_members")
    )


def append_to_ivf_index(
    new_vectors: DataFrame,
    centroids: DataFrame,
    path: str,
) -> None:
    """Incremental IVF maintenance: assign only the NEW vectors (one scan of
    the increment, centroids broadcast) and append them into the existing
    centroid partitions — daily-ingest indexing without touching the
    standing corpus. Buckets drift as data distribution shifts; periodically
    re-run kmeans_refine + write_ivf_index to re-balance (index rebuild is
    the compaction analog for the vector store)."""
    write_ivf_index(new_vectors, centroids, path, mode="append")


def semantic_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """SEMANTIC benchmark decontamination: flag training vectors whose
    embedding is near-identical (cosine >= threshold) to ANY eval-set
    vector — the embedding-space sibling of the n-gram `contaminated_docs`
    (paraphrased eval leakage that shares no 8-gram still lands next to
    its source in embedding space; cf. the SemDeDup observation, arXiv:
    2303.09540 §5).

    Scale shape: both sides are IVF-assigned (shuffle-free scans), and the
    train x eval cosine search is confined to shared clusters — the join
    shuffles only on centroid_id, so cost is sum over clusters of
    |train_c| x |eval_c|, never corpus x eval. Output per training vector:
    (id, centroid_id, max_eval_cos, contaminated); max_eval_cos is NULL
    when the vector's cluster holds no eval vectors (or only zero-norm
    cosines), which flags as NOT contaminated."""
    asg_t = ivf_assign(corpus, centroids).select(
        F.col(ID).alias("vid"), F.col(VEC).alias("vec"), "centroid_id"
    )
    asg_e = ivf_assign(eval_df, centroids).select(
        F.col("centroid_id"), F.col(VEC).alias("evec")
    )
    best = (
        asg_t.join(asg_e, ["centroid_id"])
        .groupBy("vid", "centroid_id")
        .agg(
            # + 0.0 folds a -0.0 max (tiny negative cosine rounded to zero)
            # to +0.0 so both engines render the zero identically at any SF
            (
                F.max(
                    F.round(
                        cosine_expr(F.col("vec"), F.col("evec")), DIGITS
                    )
                )
                + F.lit(0.0)
            ).alias("max_eval_cos")
        )
    )
    return (
        asg_t.select("vid", "centroid_id")
        .join(best, ["vid", "centroid_id"], "left")
        .select(
            F.col("vid").alias(ID),
            "centroid_id",
            "max_eval_cos",
            F.coalesce(
                F.col("max_eval_cos") >= threshold, F.lit(False)
            ).alias("contaminated"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv:
    2303.09540): cluster the embedding space, then inside each cluster drop
    every vector that has a near-identical (cosine >= threshold) neighbor
    with a smaller id — keepers are the per-duplicate-set minima.

    Scale shape: the O(n^2) cosine search is confined to clusters (the
    ivf_assign scan is shuffle-free; the pair join shuffles only on
    centroid_id), so cost is sum over clusters of |c|^2 instead of corpus^2
    — the entire point of SemDeDup at 100 TB. The keep/drop rule is local
    to a cluster: one semi-join decides droppers, no iterative clustering.
    Output: (vec_id, centroid_id, dropped) for every input vector.
    """
    asg = ivf_assign(df, centroids).select(
        F.col(ID).alias("vid"), F.col(VEC).alias("vec"), "centroid_id"
    )
    a = asg.select(
        F.col("centroid_id"), F.col("vid").alias("keep_id"), F.col("vec").alias("va")
    )
    b = asg.select(
        F.col("centroid_id"), F.col("vid").alias("drop_id"), F.col("vec").alias("vb")
    )
    droppers = (
        a.join(b, ["centroid_id"])
        .filter(F.col("keep_id") < F.col("drop_id"))
        .filter(
            F.round(cosine_expr(F.col("va"), F.col("vb")), DIGITS)
            >= threshold
        )
        .select("drop_id")
        .distinct()
    )
    return asg.join(
        droppers, asg["vid"] == droppers["drop_id"], "left"
    ).select(
        F.col("vid").alias(ID),
        "centroid_id",
        F.col("drop_id").isNotNull().alias("dropped"),
    )


def hard_negatives(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query vector,
    the k most-similar corpus vectors with a DIFFERENT label — the negatives
    that sit closest to the decision boundary (the standard dense-retrieval
    negative-sampling step, e.g. DPR/Contriever pipelines).

    Same scale shape as brute_force_topk: queries broadcast, cosines JVM-side
    in one corpus scan, per-partition local top-k pre-prune (Python sees only
    (query_id, neighbor_id, cos) triplets), exact global window at the end.
    The label-inequality predicate rides the broadcast join, so same-label
    vectors never reach the ranking path at all.
    """
    q = F.broadcast(
        queries.select(
            F.col(ID).alias("query_id"),
            F.col(VEC).alias("q_vec"),
            F.col("label").alias("q_label"),
        )
    )
    c = corpus.select(
        F.col(ID).alias("neighbor_id"),
        F.col(VEC).alias("c_vec"),
        F.col("label").alias("c_label"),
    )
    scored = c.join(q, F.col("q_label") != F.col("c_label")).select(
        "query_id",
        "neighbor_id",
        F.round(cosine_expr(F.col("q_vec"), F.col("c_vec")), DIGITS).alias(
            "cos"
        ),
    )

    def _local_topk(batches):
        # incremental prune: fold each Arrow batch into a running per-query
        # top-k so Python holds at most (q x k + one batch) rows — a single
        # pd.concat of the whole partition would materialize q x |partition|
        # scored triplets before any pruning
        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            merged = pdf if acc is None else pd.concat([acc, pdf], ignore_index=True)
            merged = merged.sort_values(
                ["query_id", "cos", "neighbor_id"], ascending=[True, False, True]
            )
            acc = merged.groupby("query_id", sort=False).head(k)
        if acc is not None and len(acc):
            yield acc

    pruned = scored.mapInPandas(_local_topk, scored.schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("rank").cast("int").alias("rank"))
    )


# ---------------------------------------------------------------------------
# Product Quantization (PQ): compact codes + asymmetric-distance ANN
# ---------------------------------------------------------------------------


def pq_codebook(centroids: DataFrame, m: int) -> list[list[tuple[int, np.ndarray]]]:
    """Codebook from a centroid frame: subspace j's entries are the
    centroids' j-th subvectors, as [(centroid_id, subvec)] sorted by id.
    Tiny by contract (k x d floats) — collected and broadcast into encode/
    score closures, exactly like ivf_assign's centroid matrix."""
    rows = sorted(centroids.select(ID, VEC).collect(), key=lambda r: r[0])
    if not rows:
        raise ValueError("pq_codebook: centroid set is empty")
    d = len(rows[0][1])
    if d % m:
        raise ValueError(f"pq_codebook: dim {d} not divisible by m={m}")
    dsub = d // m
    full = [(r[0], np.array(list(r[1]), dtype=np.float64)) for r in rows]
    return [
        [(cid, vec[j * dsub:(j + 1) * dsub]) for cid, vec in full]
        for j in range(m)
    ]


def _l2sq_micro_rows(sub: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """Squared L2 distance of `sub` to each row of a (k x dsub) matrix, dims
    accumulated LEFT-TO-RIGHT in float64, then fixed to integer micro-units
    (x 1e6, HALF_UP). Integer distances make every downstream SUM exact and
    order-independent — float ADC sums would differ between engines in the
    last ulp depending on add order. Vectorized ACROSS rows, sequential
    ACROSS dims, so each row keeps the scalar left-to-right order (same
    trick as ivf_assign's _seq_dot)."""
    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for i in range(sub.shape[0]):
        t = sub[i] - mat[:, i]
        acc += t * t
    return np.floor(acc * 1e6 + 0.5).astype(np.int64)


def _adc_table(
    qrows, codebook: list[list[tuple[int, np.ndarray]]]
) -> list[tuple[int, int, int, int]]:
    """(query_id, subspace j, code, d_micro) rows for the broadcast ADC
    distance table — q x m x k entries, built driver-side."""
    m = len(codebook)
    dsub = codebook[0][0][1].shape[0]
    cids = [np.array([cid for cid, _ in sub]) for sub in codebook]
    mats = [np.stack([sv for _, sv in sub]) for sub in codebook]
    out = []
    for qr in qrows:
        qv = np.array(list(qr[1]), dtype=np.float64)
        for j in range(m):
            d = _l2sq_micro_rows(qv[j * dsub:(j + 1) * dsub], mats[j])
            out.extend(
                (int(qr[0]), j, int(cids[j][i]), int(d[i]))
                for i in range(len(d))
            )
    return out


def pq_encode(
    corpus: DataFrame,
    codebook: list[list[tuple[int, np.ndarray]]],
) -> DataFrame:
    """Encode every vector to m codebook ids: code_j = argmin micro-L2² to
    subspace j's entries (ties -> smallest centroid id, which is the scan
    order of the sorted codebook). One Arrow-batched scan, ZERO shuffle; the
    output (vec_id, codes array<int>) is the compact index — m*4 bytes per
    vector instead of d*4, the entire point of PQ at 100 TB.

    The encoder UDF is non-deterministic-marked like ivf_assign's scorer:
    pre-filter `corpus` before calling, since unrelated predicates no
    longer push below the encode projection (r10 ADVICE)."""
    m = len(codebook)
    dsub = codebook[0][0][1].shape[0]
    cids = [np.array([cid for cid, _ in sub]) for sub in codebook]
    mats = [np.stack([sv for _, sv in sub]) for sub in codebook]

    @pandas_udf("array<int>")
    def _encode(vecs: pd.Series) -> pd.Series:
        out = []
        for v in vecs:
            va = np.array(list(v), dtype=np.float64)
            codes = []
            for j in range(m):
                d = _l2sq_micro_rows(va[j * dsub:(j + 1) * dsub], mats[j])
                # argmin takes the FIRST minimum = smallest centroid id
                # (codebook sorted ascending), same tie-break as the scalar
                # `dist < best_d` scan
                codes.append(int(cids[j][int(np.argmin(d))]))
            out.append(codes)
        return pd.Series(out)

    # same §4.4 duplication guard as ivf_assign: a pushed filter on the
    # codes column would otherwise evaluate the encoder twice per row
    _encode_nd = _encode.asNondeterministic()
    return corpus.select(
        F.col(ID).alias("vec_id"), _encode_nd(F.col(VEC)).alias("codes")
    )


def pq_adc_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebook: list[list[tuple[int, np.ndarray]]],
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance top-k: approximate dist(q, v) = Σ_j
    micro-L2²(q_sub_j, codebook[j][code_j]).

    The per-(query, subspace, code) distance table is q x m x k rows —
    tiny — and broadcasts onto the exploded code stream; the per-(query,
    vector) sum is an exact integer aggregation (micro-units), so results
    are bit-stable across engines and partition orders. Scale shape: codes
    (not vectors) shuffle once keyed by (query, vec); at 100 TB pair with
    IVF bucketing so only probed buckets' codes enter the join.
    Output: (query_id, neighbor_id, adc_micro, rank)."""
    dtab = _adc_table(
        _collect_bounded(queries.select(ID, VEC), "pq_adc_topk queries"),
        codebook,
    )
    spark = encoded.sparkSession
    dt = F.broadcast(
        spark.createDataFrame(
            dtab, "query_id long, j int, code int, d_micro long"
        )
    )
    ex = encoded.select(
        "vec_id", F.posexplode("codes").alias("j", "code")
    )
    summed = (
        ex.join(dt, ["j", "code"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d_micro").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_micro").asc(), F.col("neighbor_id").asc()
    )
    return (
        summed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "adc_micro",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook: list[list[tuple[int, np.ndarray]]],
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-PQ: the production 100 TB ANN shape. The corpus is bucketed by
    nearest centroid (ivf_assign: one shuffle-free scan) AND compressed to
    PQ codes (pq_encode: one shuffle-free scan); a query probes its nprobe
    nearest buckets and ranks ONLY those buckets' codes by the exact-integer
    ADC sum. Vectors never enter the search join — the probe stream carries
    (vec_id, centroid_id, codes), m*4 bytes of payload per vector.
    Output: (query_id, neighbor_id, adc_micro, rank)."""
    assigned = ivf_assign(corpus, centroids).select(
        F.col(ID).alias("nid"), "centroid_id"
    )
    codes = pq_encode(corpus, codebook)
    bucketed = assigned.join(
        codes.withColumnRenamed("vec_id", "nid"), "nid"
    )
    cents = F.broadcast(
        centroids.select(
            F.col(ID).alias("centroid_id"), F.col(VEC).alias("cent_vec")
        )
    )
    q = queries.select(F.col(ID).alias("query_id"), F.col(VEC).alias("q_vec"))
    q_scored = q.join(cents).select(
        "query_id",
        "centroid_id",
        F.round(cosine_expr(F.col("q_vec"), F.col("cent_vec")), 6).alias("qc_cos"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("qc_cos"), F.asc("centroid_id"))
    probes = F.broadcast(
        q_scored.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "centroid_id")
    )
    # ADC distance table (q x m x k rows) — built driver-side like pq_adc_topk
    dtab_rows = _adc_table(
        _collect_bounded(queries.select(ID, VEC), "ivf_pq_topk queries"),
        codebook,
    )
    dt = F.broadcast(
        corpus.sparkSession.createDataFrame(
            dtab_rows, "query_id long, j int, code int, d_micro long"
        )
    )
    cand = (
        bucketed.join(probes, "centroid_id")
        .filter(F.col("query_id") != F.col("nid"))
        .select("query_id", F.col("nid").alias("neighbor_id"), "codes")
    )
    summed = (
        cand.select("query_id", "neighbor_id", F.posexplode("codes").alias("j", "code"))
        .join(dt, ["query_id", "j", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d_micro").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_micro").asc(), F.col("neighbor_id").asc()
    )
    return (
        summed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "adc_micro",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization (SQ): per-dimension min/max codes
# ---------------------------------------------------------------------------


def sq_encode(corpus: DataFrame) -> DataFrame:
    """Quantize float vectors to per-dimension uint8 codes:

        code_i = floor((x_i - min_i) * 255 / (max_i - min_i) + 0.5)

    with min/max taken per dimension over the corpus (constant dims code to
    0). 4x smaller than float32 and 8x smaller than the float64 testdata —
    the cheap compression tier below PQ, with no codebook training.

    Scale shape: the stats pass is posexplode -> groupBy(dim) — the shuffle
    carries d min/max aggregates per partition, nothing else. The d-row
    stats frame folds to ONE row of (mins, maxs) arrays that cross-joins
    (broadcast) back onto the corpus scan; encoding itself is a JVM-side
    transform() — no Python, no second shuffle. Entirely whole-stage
    codegen, unlike PQ's Arrow-batched encoder. floor(x+0.5) not round():
    identical half-up in Spark and DuckDB, no cast-rounding ambiguity.
    Output: (vec_id, codes array<int>)."""
    stats = (
        corpus.select(F.posexplode(F.col(VEC)).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .groupBy()
        .agg(
            F.array_sort(F.collect_list(F.struct("dim", "mn", "mx"))).alias("_s")
        )
        .select(
            F.transform("_s", lambda s: s["mn"]).alias("_mins"),
            F.transform("_s", lambda s: s["mx"]).alias("_maxs"),
        )
    )
    enc = F.transform(
        F.col(VEC),
        lambda x, i: F.when(
            F.element_at(F.col("_maxs"), i + 1) == F.element_at(F.col("_mins"), i + 1),
            F.lit(0),
        )
        .otherwise(
            F.floor(
                (x - F.element_at(F.col("_mins"), i + 1))
                * 255.0
                / (
                    F.element_at(F.col("_maxs"), i + 1)
                    - F.element_at(F.col("_mins"), i + 1)
                )
                + 0.5
            )
        )
        .cast("int"),
    )
    return corpus.crossJoin(F.broadcast(stats)).select(
        F.col(ID).alias("vec_id"), enc.alias("codes")
    )


def sq_topk(
    encoded: DataFrame, query_ids: DataFrame, k: int = 5
) -> DataFrame:
    """Brute-force top-k in code space: rank by the exact-integer squared L2
    over uint8 codes, sum_i (qc_i - vc_i)^2 — order-independent bigint math,
    so the ranking is bit-stable across engines and partitionings.

    `query_ids` is a 1-column frame of vec_ids to use as queries (must be
    encoded members of `encoded`). The query code frame is tiny ->
    broadcast nested-loop against the corpus codes scan; per-pair distance
    is one zip_with/aggregate fold in codegen. Output: (query_id,
    neighbor_id, l2_code, rank)."""
    qid = query_ids.columns[0]
    q = F.broadcast(
        encoded.join(
            F.broadcast(query_ids.withColumnRenamed(qid, "vec_id")), "vec_id"
        ).select(F.col("vec_id").alias("query_id"), F.col("codes").alias("_qc"))
    )
    pairs = encoded.crossJoin(q).filter(F.col("vec_id") != F.col("query_id"))
    l2 = F.aggregate(
        F.zip_with("codes", "_qc", lambda a, b: ((a - b) * (a - b)).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), l2.alias("l2_code")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("l2_code").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "l2_code", F.col("rank").cast("int").alias("rank"))
    )


# ---------------------------------------------------------------------------
# feature-hashed bag-of-words embeddings + exact retrieval over them
# ---------------------------------------------------------------------------


def hashed_embedding(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 16,
) -> DataFrame:
    """Signed feature-hashing document embeddings (Weinberger et al. 2009,
    arXiv:0902.2206): bucket = h(token) % dim, sign = ±1 from a second hash
    bit, vector[bucket] += sign per token occurrence. Produces SPARSE
    integer rows (doc, bucket, w) — exact, engine-stable (md5 hashes), and
    computable without any learned model, so retrieval over them is fully
    oracle-checkable (unlike float model embeddings).

    Scale shape: explode -> codegen'd md5 -> one map-side-combined groupBy
    on (doc, bucket); shuffle rows are 3 integers each.
    """
    from realtime_spark.operators.dedup import spread_by, tokens_expr
    from realtime_spark.operators.sketches import stable_hash

    toks = spread_by(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(tokens_expr(F.col(text_col))).alias("tok"),
    )
    bucket = stable_hash(F.col("tok"), 0, dim)
    sign = stable_hash(F.col("tok"), 1, 2) * 2 - 1
    return (
        toks.select("doc", bucket.alias("bucket"), sign.alias("s"))
        .groupBy("doc", "bucket")
        .agg(F.sum("s").alias("w"))
        .filter(F.col("w") != 0)
    )


def hash_embed_topk(
    vecs: DataFrame,
    query_docs: Sequence[int],
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k over sparse hashed embeddings for a set of query
    doc ids: (query_doc, rank, doc, cos). Dot products and squared norms
    are exact integers; cosine = dot/sqrt(nq*nd) is one double op from
    exact inputs, quantized; ties break by doc id.

    Scale shape: the query-side slice is tiny and broadcasts; the corpus
    side never shuffles for the join (bucket-keyed broadcast probe), then
    one groupBy(query,doc) partial agg and a per-query top-k window over
    candidate docs only (docs sharing at least one bucket)."""
    norms = vecs.groupBy("doc").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    q = vecs.filter(F.col("doc").isin(list(query_docs))).select(
        F.col("doc").alias("qdoc"), "bucket", F.col("w").alias("qw")
    )
    dots = (
        vecs.join(F.broadcast(q), "bucket")
        .filter(F.col("doc") != F.col("qdoc"))
        .groupBy("qdoc", "doc")
        .agg(F.sum(F.col("w") * F.col("qw")).alias("dot"))
    )
    # slice to the query ids BEFORE the broadcast hint: norms is a
    # corpus-cardinality aggregate, and broadcasting it unfiltered would
    # collect the whole corpus's norms onto the driver at exactly the
    # scale this operator targets
    qn = norms.filter(F.col("doc").isin(list(query_docs))).select(
        F.col("doc").alias("qdoc"), F.col("n2").alias("qn2")
    )
    scored = (
        dots.join(norms, "doc")
        .join(F.broadcast(qn), "qdoc")
        .withColumn(
            "cos",
            F.col("dot").cast("double")
            / F.sqrt(F.col("n2").cast("double") * F.col("qn2").cast("double")),
        )
    )
    scale = float(10**6)
    quant = F.floor(F.col("cos") * scale + F.lit(0.5)) / F.lit(scale)
    w = Window.partitionBy("qdoc").orderBy(
        quant.desc(), F.col("doc").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qdoc").alias("query_doc"),
            "rank",
            "doc",
            quant.alias("cos"),
        )
    )
