"""Iterative graph algorithms over edge DataFrames.

`duplicate_clusters` (dedup.py) covers connected components; this module
adds damped PageRank — the standard importance measure for link/interaction
graphs (web-crawl prioritization in corpus pipelines, influence ranking in
event graphs).

Determinism contract: ranks are INTEGER micro-units (1.0 == 1_000_000).
Each iteration distributes floor(rank / out_degree) to every out-neighbor
and applies damping as integer arithmetic (`(85 * s) div 100`), so every
step is exact — no float summation order anywhere, and the DuckDB oracle
replays the exact same integers with a recursive CTE.

Scale shape (100 TB): per iteration, one shuffle join (ranks ⋈ edges on
src) + one map-side-combined sum keyed by dst — identical shape to the
label-propagation rounds of duplicate_clusters, and like there the driver
loop never collects data (localCheckpoint truncates lineage). Out-degrees
are computed once. Skewed hubs (a node with millions of in-edges) combine
map-side before the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000
DAMPING_PCT = 85


def pagerank(edges: DataFrame, iterations: int = 8) -> DataFrame:
    """Damped PageRank in exact integer micro-units.

    rank_0(v) = MICRO;
    rank_{i+1}(v) = (100-d)% * MICRO + d% * Σ_{u→v} floor(rank_i(u)/deg(u)),
    every operation on bigints (floor division), so the result is exactly
    reproducible. Nodes = union of srcs and dsts; dangling nodes keep the
    base rank (their mass is dropped, the common simplification).
    Output: (node, rank_micro).
    """
    e = edges.select(
        F.col("src").cast("bigint").alias("src"),
        F.col("dst").cast("bigint").alias("dst"),
    ).persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = e.join(deg, "src")  # (src, dst, deg): deg is static across iters
    base = MICRO * (100 - DAMPING_PCT) // 100
    ranks = nodes.withColumn("rank_micro", F.lit(MICRO).cast("bigint"))
    for _ in range(iterations):
        contribs = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_micro div deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({DAMPING_PCT} * coalesce(s, 0L)) div 100"
                    )
                ).alias("rank_micro"),
            )
            # eager: materializes the round (populating and then reusing
            # the e/deg caches) and truncates lineage; eager=False would
            # defer everything to the caller's first action, by which time
            # unpersist had already dropped the never-filled cache and
            # every iteration would rescan the edge input
            .localCheckpoint()
        )
    out = ranks
    e.unpersist()
    nodes.unpersist()
    return out


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle count, degree, and local clustering coefficient
    over an undirected edge list (standard graph-quality probe for
    duplicate-cluster graphs: coefficient ~1 = clique-like exact-dup
    group, lower = chained near-dups that need transitive clustering).

    Triangles by the ordered three-join: edges canonicalized a<b, then
    (a,b) ⋈ (b,c) ⋈ (a,c) counts each triangle once. Per-node count =
    triangles touching the node; coefficient = 2T / (d(d-1)), quantized.

    Scale shape: the classic MapReduce triangle enumeration — the join
    input is the edge list itself (no vectors, no payloads). Skew guard:
    high-degree hubs dominate (b,c) fan-out; production runs degree-order
    the edges first (count only from lower-degree endpoints) — at dup-graph
    densities the plain ordered join is fine and keeps the oracle simple.
    Output: (node, degree, triangles, clustering).
    """
    e = edges.select(
        F.least(F.col("doc_a"), F.col("doc_b")).cast("bigint").alias("a"),
        F.greatest(F.col("doc_a"), F.col("doc_b")).cast("bigint").alias("b"),
    ).filter(
        # self-loops would fabricate (x,x,y) "triangles" through the
        # ordered three-join and double-count degree
        F.col("a") != F.col("b")
    ).distinct().persist()
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    tris = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e1.a") == F.col("e3.a")) & (F.col("e2.b") == F.col("e3.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    per_node = (
        tris.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    scale = float(10**6)
    coeff = F.when(
        F.col("degree") >= 2,
        F.floor(
            (2.0 * F.coalesce(F.col("triangles"), F.lit(0)))
            / (F.col("degree") * (F.col("degree") - 1))
            * scale
            + F.lit(0.5)
        )
        / F.lit(scale),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("bigint").alias(
                "triangles"
            ),
            coeff.alias("clustering"),
        )
    )
