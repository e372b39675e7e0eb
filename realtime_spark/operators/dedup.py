"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference operators (BASELINE.json north star): exact dedup,
word-shingle n-gram Jaccard, MinHash+LSH, and SimHash — each expressed with
deterministic, oracle-checkable primitives (md5 is the shared hash between
Spark and DuckDB, so every stage can be verified against SQL).

Scale notes (100 TB design):
  - exact dedup: one hash-shuffle on the digest, map-side partial agg first.
  - shingle explode: the shuffle key is the shingle string; frequent shingles
    skew — cap per-shingle fan-out (`MAX_SHINGLE_FREQ`) the way production
    near-dup pipelines drop stop-shingles.
  - MinHash: signatures are computed per-row (no shuffle), the LSH band join
    shuffles only (band_key, doc_id) pairs — tiny compared to the corpus; the
    band key is a hash so it distributes uniformly.
  - pair generation joins always produce doc_a < doc_b to halve volume.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# shingles in more docs than this are stop-shingles: dropped before pairing
MAX_SHINGLE_FREQ = 1000

# ---------------------------------------------------------------------------
# text normalization + shingling (shared by jaccard/minhash/simhash)
# ---------------------------------------------------------------------------


def spread_by(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition on `key` to the cluster parallelism before per-row
    heavy work (shingling/hashing). Guarantees the map stage parallelizes
    regardless of source file row-group layout (a single-row-group parquet
    file splits by BYTES into many scan partitions, but all rows land in one
    — a partition-count guard is a lie there, measured 3× slower), and a
    later groupBy(key) reuses the partitioning — no additional shuffle.
    Explicit partition count so AQE does not coalesce the small fixture
    exchange. At 100 TB with well-row-grouped input a caller can pre-spread
    and skip this, but correctness of parallelism beats saving one shuffle.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, F.col(key))


def tokens_expr(text: Column) -> Column:
    """Lowercased word tokens; keeps [a-z0-9]+ runs. Mirrored in SQL by
    regexp_split_to_array(lower(text), '[^a-z0-9]+')-style splits."""
    return F.filter(
        F.split(F.lower(text), "[^a-z0-9]+"), lambda t: t != ""
    )


def shingles_expr(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles (space-joined k-grams of tokens)."""
    toks = tokens_expr(text)
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    # guard: Spark sequence(1, 0) descends; short texts get no shingles
    return F.when(n >= k, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def _digest(text: Column) -> Column:
    """Content digest with NULL text mapped to a sentinel: md5(NULL) is
    NULL, and a NULL join key matches nothing — null-text rows would be
    silently DELETED by the semi-join keep paths instead of deduped to
    one. The sentinel cannot collide with a real md5 (not 32 hex chars)."""
    return F.coalesce(F.md5(text), F.lit("_null_"))


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content digest: returns (digest, canonical_id, n_dups,
    ids) for every duplicate group (n_dups > 1). Canonical = min id."""
    g = (
        df.select(F.col(id_col).alias("id"), _digest(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min("id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
            F.sort_array(F.collect_list("id")).alias("ids"),
        )
    )
    return g.filter(F.col("n_dups") > 1)


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep exactly one row (min id) per distinct text value."""
    w_ids = df.withColumn("_digest", _digest(F.col(text_col)))
    canon = w_ids.groupBy("_digest").agg(F.min(F.col(id_col)).alias(id_col))
    return w_ids.join(canon, ["_digest", id_col], "left_semi").drop("_digest")


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup
# ---------------------------------------------------------------------------


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs by word-k-shingle Jaccard similarity.

    explode -> self-join on the shingle's 60-bit digest -> count
    intersections -> |A∪B| = |A|+|B|-|A∩B|. The join key is a bigint (md5
    prefix), not the shingle string: narrower shuffle rows and cheap key
    hashing; the oracle mirrors the same digest so collisions (if any) agree.
    Shingles occurring in more than `MAX_SHINGLE_FREQ` docs are dropped
    from BOTH the intersection and the size terms (stop-shingle skew
    guard; mixing an unfiltered |A| with a filtered |A∩B| would
    systematically underestimate Jaccard as soon as the guard fires). Exact Jaccard is inherently quadratic in
    co-occurrence — at 100 TB use minhash_lsh_pairs to generate candidates
    and this operator only to score them. Output: (doc_a, doc_b, jaccard)
    with doc_a < doc_b.
    """
    sh = spread_by(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(shingles_expr(F.col(text_col), k)).alias("shingle"),
    ).select(
        "doc",
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("bigint").alias("sx"),
    )
    # the (doc, sx) set feeds four consumers (both join sides, sizes, freq);
    # persist so the shingle explode runs once, not four times. (Two
    # alternatives measured SLOWER at sf0.1: a window-count-over-sx freq
    # guard — shuffles and sorts every shingle row where groupBy combines
    # map-side — and recomputing sizes as a map-only size(shingles) over the
    # source, which re-tokenizes the corpus instead of reusing the persist.)
    sh = sh.persist()
    freq_ok = sh.groupBy("sx").agg(F.count(F.lit(1)).alias("freq")).filter(
        F.col("freq") <= MAX_SHINGLE_FREQ
    )
    sh_f = sh.join(freq_ok.select("sx"), "sx", "left_semi")
    sizes = sh_f.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh_f.alias("a")
    b = sh_f.alias("b")
    inter = (
        a.join(b, (F.col("a.sx") == F.col("b.sx")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("doc_a", "doc_b", "jaccard")


def shingle_shared_frac(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Symmetric cross-document n-gram share / memorization-risk score: per
    document, its distinct word-k-shingle count and how many of those
    shingles occur in at least one OTHER document, with shared_frac =
    shared / total (NULL for shingle-free short texts, which stay in the
    output). ORDER-INDEPENDENT, unlike shingle_novelty below (which
    attributes each shingle to its first-occurrence doc and so scores an
    ingest batch incrementally): here every copy of a duplicated phrase is
    flagged, which is the right shape for memorization-risk audits — a doc
    whose shingles are mostly corpus-shared is boilerplate even when no
    single PAIR clears a Jaccard threshold, complementary to jaccard_pairs
    (pairwise) and span dedup (exact substrings).

    Scale shape (100 TB): shingles explode once; per-shingle document
    frequency is ONE map-side-combining agg on the 60-bit digest; the join
    back is 1:1 per (doc, shingle) row — no candidate fan-out, so no
    stop-shingle cap is needed (a corpus-wide hot shingle concentrates rows
    on one reducer of the freq agg only, which AQE's skew split handles);
    the closing agg keys on the doc id. Every exchange is linear in shingle
    volume.
    """
    sh = spread_by(df.select(id_col, text_col), id_col).select(
        F.col(id_col),
        F.explode(shingles_expr(F.col(text_col), k)).alias("shingle"),
    ).select(
        F.col(id_col),
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("sx"),
    )
    # shingles_expr is per-doc DISTINCT, so count(*) per sx == document freq
    freq = sh.groupBy("sx").agg(F.count(F.lit(1)).alias("df_docs"))
    per = (
        sh.join(freq, "sx")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df_docs") >= 2).cast("int")).alias("n_shared"),
        )
    )
    return df.select(id_col).join(per, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_shingles", F.lit(0)).cast("bigint").alias("n_shingles"),
        F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
        F.when(
            F.col("n_shingles") > 0,
            F.round(F.col("n_shared") / F.col("n_shingles"), 6),
        ).alias("shared_frac"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# One md5 per shingle, then a universal hash family (exactly reproducible in
# SQL with md5 + modular arithmetic):
#   x      = int(md5(shingle)[0:15 hex]) mod p
#   sig[i] = min over shingles of ((2i+1)*x + 7919*i + 1) mod p,  p = 2^31-1
_MH_PRIME = 2147483647  # 2^31 - 1; universal-hash modulus


def minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """(doc, band, key) banded-MinHash rows — the shared LSH front half of
    minhash_lsh_pairs and the persisted LSH index.

    Shape: explode -> scalar md5 -> groupBy(doc) min-aggregates: the md5 runs
    once per shingle inside whole-stage codegen (array-lambda evaluation
    would re-derive the shingle set for every hash function: no CSE in
    interpreted higher-order functions), and the per-function permutations
    are num_hashes map-side-combined min() aggs over (doc, x) pairs.
    """
    if bands <= 0 or num_hashes % bands:
        # a remainder silently discards trailing hash functions; worse,
        # bands > num_hashes makes every band key the empty slice and the
        # whole corpus collides into one quadratic bucket
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    rows_per_band = num_hashes // bands
    sh = spread_by(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(shingles_expr(F.col(text_col), k)).alias("s"),
    )
    xs = sh.select(
        "doc",
        (
            F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("bigint")
            % F.lit(_MH_PRIME)
        ).alias("x"),
    )
    mins = xs.groupBy("doc").agg(
        *[
            F.min((F.lit(2 * i + 1) * F.col("x") + F.lit(7919 * i + 1)) % F.lit(_MH_PRIME)).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )
    sig = mins.select("doc", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))
    return sig.select(
        "doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.array_join(
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                            "|",
                        )
                    ).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select("doc", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    num_hashes/bands rows per band; docs sharing any band digest are
    candidates. Only (band_id, band_key, doc) leaves each row — the corpus
    itself never shuffles, and the signature plan is computed exactly once:
    pairs come from a bucket groupBy + in-bucket combination, not a self-join
    (a self-join would execute the signature scan twice). Buckets are bounded
    by true near-dup group sizes; at 100 TB run exact dedup first so no
    bucket degenerates. Output: distinct (doc_a, doc_b), doc_a < doc_b.
    """
    banded = minhash_bands(df, id_col, text_col, num_hashes, bands, k)
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.sort_array(F.collect_set("doc")).alias("docs"))
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
    return pairs.select(F.col("p.doc_a"), F.col("p.doc_b")).distinct()


def jaccard_for_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Exact word-k-shingle Jaccard for a given candidate-pair set — the
    scoring half of the LSH-then-score pattern (minhash_lsh_pairs /
    srp_candidate_pairs generate candidates; this scores ONLY those).

    Shape: only docs that appear in some candidate pair are shingled
    (semi-join pushes the candidate id set into the corpus scan), so the
    expensive explode is proportional to the candidate neighborhood, not the
    corpus; the intersection join then touches only candidate shingle rows.
    At 100 TB this is the difference between quadratic all-pairs Jaccard and
    work linear in the near-dup population. Output: (doc_a, doc_b, jaccard).
    """
    p = pairs.select(F.col("doc_a").cast("long"), F.col("doc_b").cast("long"))
    docs_in = (
        p.select(F.col("doc_a").alias("doc"))
        .unionByName(p.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    cand = df.join(
        F.broadcast(docs_in), F.col(id_col).cast("long") == F.col("doc"), "left_semi"
    )
    sh = spread_by(cand, id_col).select(
        F.col(id_col).cast("long").alias("doc"),
        F.explode(shingles_expr(F.col(text_col), k)).alias("shingle"),
    ).select(
        "doc",
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("bigint").alias("sx"),
    )
    sh = sh.persist()
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc").alias("doc_a"), "sx")
    b = sh.select(F.col("doc").alias("_doc_b"), F.col("sx").alias("_sx_b"))
    inter = (
        p.join(a, "doc_a")
        .join(b, (F.col("doc_b") == F.col("_doc_b")) & (F.col("sx") == F.col("_sx_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    ni = F.coalesce(F.col("n_inter"), F.lit(0))
    denom = (
        F.coalesce(F.col("n_a"), F.lit(0))
        + F.coalesce(F.col("n_b"), F.lit(0))
        - ni
    )
    return (
        # LEFT joins throughout: a candidate pair whose doc is too short to
        # shingle (no sizes row) must come back with jaccard 0, not vanish
        # from the output its caller supplied it to
        p.join(inter, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a", "left")
        .join(sb, "doc_b", "left")
        .select(
            "doc_a",
            "doc_b",
            F.when(denom > 0, F.round(ni / denom, 6))
            .otherwise(F.lit(0.0))
            .alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def contaminated_docs(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    min_shared: int = 1,
) -> DataFrame:
    """Training-corpus decontamination: find corpus docs sharing at least
    `min_shared` distinct word-k-shingles with any document of an evaluation/
    benchmark set (the standard n-gram-overlap contamination check run before
    training on scraped data).

    Shape: both sides shingle map-side (distinct per doc), the eval side is
    reduced to its DISTINCT shingle digests — at 100 TB the eval set is tiny
    relative to the corpus, so that digest set broadcast-joins (semi-join)
    against the exploded corpus; only (doc, digest) pairs ever shuffle, and
    only for digests that actually hit. Output: (doc_id, n_shared), the count
    of the doc's distinct shingles that appear anywhere in the eval set.
    """
    def digests(df: DataFrame) -> DataFrame:
        return spread_by(df, id_col).select(
            F.col(id_col).alias("doc"),
            F.explode(shingles_expr(F.col(text_col), k)).alias("s"),
        ).select(
            "doc",
            F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("bigint").alias("sx"),
        )

    eval_sx = F.broadcast(digests(eval_df).select("sx").distinct())
    hits = digests(corpus).join(eval_sx, "sx", "left_semi")
    out = hits.groupBy(F.col("doc").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    return out.filter(F.col("n_shared") >= min_shared)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_buckets(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """(id, simhash) — hamming-close docs collide on equal simhash for the
    dedup use; banded hamming search would split the hash into chunks.
    Token hash = first 15 hex chars of md5 -> bigint; bit b of the simhash
    is 1 when more tokens have bit b set than unset.

    Shape: explode tokens -> one codegen'd md5 per token -> groupBy(doc) with
    per-bit vote sums (map-side combine). An array-lambda form would
    re-derive the token hash array per bit (interpreted HOFs have no CSE);
    this aggregation form hashes each token exactly once. Docs with zero
    tokens produce no row (dedup semantics: nothing to compare).
    """
    toks = spread_by(df, id_col).select(
        F.col(id_col).alias("doc"), F.explode(tokens_expr(F.col(text_col))).alias("t")
    )
    hashed = toks.select(
        "doc", F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("bigint").alias("h")
    )
    votes = hashed.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"b{b}")
            for b in range(bits)
        ],
    )
    sim = F.lit(0).cast("bigint")
    for b in range(bits):
        sim = sim + F.when(F.col(f"b{b}") * 2 > F.col("n"), F.lit(1 << b)).otherwise(0)
    return votes.select("doc", sim.alias("simhash"))


# ---------------------------------------------------------------------------
# duplicate clustering: connected components over a near-dup pair graph
# ---------------------------------------------------------------------------


def duplicate_clusters(pairs: DataFrame) -> DataFrame:
    """Group near-duplicate pairs into clusters: connected components by
    iterative min-label propagation. Output: (doc_id, cluster_id) for every
    doc appearing in a pair, cluster_id = smallest doc_id reachable — so the
    canonical keeper of a cluster is the row with doc_id == cluster_id.

    This is the step after LSH candidate generation + exact scoring
    (minhash_lsh_pairs -> jaccard_for_pairs): pairs alone over-remove, since
    A~B and B~C must collapse to ONE keeper even when A~C was never scored.

    Scale shape: per round, one shuffle join (labels ⋈ edges) + one
    map-side-combined min aggregation; rounds = graph diameter. Near-dup
    graphs are dense blobs of duplicates with tiny diameter (2-4 rounds in
    practice), so simple propagation beats the alternating large-star/
    small-star scheme (Kiveris et al., "Connected Components in MapReduce
    and Beyond") which only pays off on long-chain graphs. Labels are
    localCheckpoint'ed each round to truncate the growing lineage — an
    iterative driver loop, NOT a driver-side .collect(): every step stays
    distributed. Not expressible as one SQL plan; the DuckDB oracle replays
    it with a recursive CTE.

    Doc ids must be integral (they label-propagate as bigints); a
    non-numeric id would cast to NULL and silently collapse the graph, so
    it is rejected instead — hash string ids to int64 upstream first.
    """
    # persist the (usually expensive) pair derivation once: the symmetric
    # edge union would otherwise evaluate the upstream LSH/scoring plan twice
    p = pairs.select(
        F.col("doc_a").cast("bigint").alias("src"),
        F.col("doc_b").cast("bigint").alias("dst"),
    ).persist()
    bad = p.filter(F.col("src").isNull() | F.col("dst").isNull()).limit(1)
    if bad.count():
        p.unpersist()
        raise ValueError(
            "duplicate_clusters: non-integral id in (doc_a, doc_b) — "
            "cast/hash doc ids to bigint before clustering"
        )
    # small-graph fast path: below ~2M edges (≈32 MB of longs) the
    # distributed loop is pure job-scheduling overhead — diameter×(shuffle
    # join + agg + checkpoint) jobs to label a graph union-find folds in
    # milliseconds. The count is free (it materializes the persist the loop
    # would pay anyway), the threshold is an explicit bound on driver
    # memory, and the distributed propagation below remains the path for
    # genuinely large dup graphs (billions of LSH pairs at 100 TB).
    n_edges = p.count()
    if n_edges <= 2_000_000:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        nodes: set[int] = set()
        for row in p.collect():
            a, b = int(row[0]), int(row[1])
            nodes.add(a)
            nodes.add(b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # attach the larger root under the smaller: the cluster id
                # IS the min reachable doc_id, same as the propagation
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out_rows = [(n, find(n)) for n in sorted(nodes)]
        p.unpersist()
        return pairs.sparkSession.createDataFrame(
            out_rows, "doc_id bigint, cluster_id bigint"
        )
    edges = (
        p.union(p.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    # convergence by checksum: labels only ever decrease, so the label sum
    # strictly decreases on every improving round and is stable exactly at
    # the fixpoint — no changed-flag join needed. decimal(38,0) so the sum
    # cannot overflow at any realistic node-id scale.
    prev_sum = labels.agg(
        F.sum(F.col("label").cast("decimal(38,0)"))
    ).collect()[0][0]
    for _ in range(50):
        # one round = neighbor messages UNION self labels -> min per node:
        # a single shuffle join + a single map-side-combined aggregation.
        # (The union replaces a separate left join back onto the old labels,
        # which cost a third shuffle per round.) The checkpoint is LAZY: the
        # convergence-sum collect below materializes it, so each round runs
        # exactly one job instead of checkpoint-job + sum-job.
        msgs = edges.join(labels, F.col("src") == F.col("node")).select(
            F.col("dst").alias("node"), F.col("label")
        )
        new = (
            msgs.unionByName(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        new_sum = new.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        labels = new
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    edges.unpersist()
    p.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dedup_incremental(
    new_docs: DataFrame,
    existing_digests: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Incremental exact dedup for a daily-ingest pipeline: keep the rows of
    `new_docs` whose content digest is neither already in the corpus
    (`existing_digests`: one `digest` column) nor claimed by an earlier row
    (min id) of the same batch.

    Scale shape: the corpus digest set is the big side — the anti-join
    shuffles on digest and AQE picks the join strategy (broadcast only if
    the *new batch* is the small side after dedup, which it is for daily
    increments against a year of corpus). Within-batch dedup is the same
    min-id groupBy as dedup_exact. The digest store is append-only: each
    accepted batch contributes its digests for the next run.
    """
    batch = new_docs.withColumn("_digest", _digest(F.col(text_col)))
    fresh = batch.join(
        existing_digests.select(F.col("digest").alias("_digest")),
        "_digest",
        "left_anti",
    )
    canon = fresh.groupBy("_digest").agg(F.min(F.col(id_col)).alias(id_col))
    return fresh.join(canon, ["_digest", id_col], "left_semi").drop("_digest")


# ---------------------------------------------------------------------------
# persisted MinHash-LSH index: incremental near-dup for a daily-ingest corpus
# ---------------------------------------------------------------------------


def write_lsh_index(
    df: DataFrame,
    path: str,
    num_hashes: int = 12,
    bands: int = 4,
    k: int = 3,
    mode: str = "overwrite",
) -> None:
    """Build and persist the banded-MinHash index: (doc, band, key) rows
    stored partitioned BY band. The near-dup analog of write_ivf_index —
    at 100 TB the standing corpus is signed ONCE, and each daily batch
    probes the index instead of re-shingling the whole corpus. Partitioning
    by band lets a probe that only uses a band subset prune partitions, and
    keeps per-file key locality for row-group min/max skipping on `key`.
    """
    banded = minhash_bands(df, "doc_id", "text", num_hashes, bands, k)
    # sort within partitions by key so parquet row-group statistics on `key`
    # are tight — an index probe join reads only matching row groups
    banded.repartition("band").sortWithinPartitions("key").write.mode(
        mode
    ).partitionBy("band").parquet(path)


def append_to_lsh_index(df: DataFrame, path: str) -> None:
    """Sign an accepted batch and append its band rows to the standing index
    (dynamic partition append — only touched band partitions gain files)."""
    write_lsh_index(df, path, mode="append")


def lsh_candidates_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 4,
    k: int = 3,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidates of a new batch against the persisted corpus index:
    sign ONLY the batch, join its (band, key) rows against the index, and
    return distinct (new_doc, corpus_doc) candidate pairs.

    Scale shape: the batch side is small (a daily increment), so its banded
    rows broadcast; the index side never shuffles — the join is a broadcast
    hash probe into the index scan, and only (band, key) pairs that occur in
    the batch are even hashed. Batch docs already present in the index are
    excluded by id inequality (re-ingest protection). Score survivors with
    jaccard_for_pairs, then cluster with duplicate_clusters.

    ``banded``: the batch's precomputed ``minhash_bands`` rows, when the
    caller also needs them for another consumer (the streaming ingest signs
    once and reuses the rows for its index write) — must be the exact
    (doc, band, key) output of ``minhash_bands(new_docs, ...)`` with the
    same parameters.
    """
    probe = (
        minhash_bands(new_docs, id_col, text_col, num_hashes, bands, k)
        if banded is None
        else banded
    )
    hits = index.join(
        F.broadcast(probe.withColumnRenamed("doc", "new_doc")),
        ["band", "key"],
    ).filter(F.col("doc") != F.col("new_doc"))
    return hits.select(
        F.col("new_doc"), F.col("doc").alias("corpus_doc")
    ).distinct()


def shingle_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document novelty: the fraction of its distinct word k-shingles
    never seen in any LOWER-id document — the incremental-corpus signal
    curation uses to rank an ingest batch by new-information content
    (near-dups score ~0, genuinely new text ~1).

    Shape: explode distinct shingles -> min(doc) per shingle (one map-side-
    combined agg keyed by shingle) -> join back on (shingle) -> per-doc
    counts. The shuffle carries (doc, 60-bit shingle digest) pairs, never
    text. Output: (doc, n_shingles, n_novel, novelty) with novelty
    quantized; docs with no shingles (< k tokens) are ABSENT from the
    output (the explode yields no rows for them) — callers wanting them
    left-join the corpus back.
    """
    sh = spread_by(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(shingles_expr(F.col(text_col), k)).alias("s"),
    )
    # digest shingles before the shuffle: fixed-width keys, no long strings
    shd = sh.select(
        "doc",
        (
            F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("bigint")
        ).alias("d"),
    )
    first = shd.groupBy("d").agg(F.min("doc").alias("first_doc"))
    joined = shd.join(first, "d")
    counts = joined.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(
            F.when(F.col("first_doc") == F.col("doc"), 1).otherwise(0)
        ).alias("n_novel"),
    )
    scale = float(10**4)
    nov = F.col("n_novel").cast("double") / F.col("n_shingles").cast("double")
    return counts.select(
        "doc",
        "n_shingles",
        F.col("n_novel").cast("bigint").alias("n_novel"),
        (F.floor(nov * scale + F.lit(0.5)) / F.lit(scale)).alias("novelty"),
    )
