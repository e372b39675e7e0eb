"""Tenant→node placement and the rebalance audit.

Reference:
  - platform-region translation (hardcoded default mapping)
    (reference: lib/realtime/nodes.ex:30-63)
  - region node lists are name-sorted for stability (nodes.ex:68-73)
  - launch_node: zero region nodes -> the caller's default node; one node ->
    that node; otherwise the picker, whose deterministic fallback is a
    consistent hash of the tenant id into the sorted node list
    (nodes.ex:117-159 — the load-aware branch needs live cpu_sup data, so
    the engine models the documented hash fallback; the hash itself is this
    repo's engine-stable md5 hash standing in for :erlang.phash2, which is
    opaque outside the BEAM — placement invariants are identical)
  - Operations.rebalance counts tenants whose current connection node
    differs from launch_node's answer and restarts them
    (reference: lib/realtime/operations.ex:10-28)
  - Rebalancer.check only acts when the cluster membership is stable:
    any node-set change between observations suppresses the verdict
    (reference: lib/realtime/tenants/rebalancer.ex:9-30)

Spark-first: regions and node lists are tiny dims — one groupBy over the
node table builds (region, sorted nodes, count), then a broadcast join onto
the tenant stream; expected-node selection is pure column arithmetic
(stable hash mod count into the sorted array). The tenant side never
shuffles. At 100 TB of tenants (they are not — tenants are dim-sized too,
but the audit also runs per-connection) the same plan holds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: seed namespacing the placement hash (same md5 convention as
#: sketches.stable_hash, but taken mod a per-region column, not a constant)
PLACEMENT_SEED = "place"

# nodes.ex:40-63 default_region_mapping, verbatim
REGION_MAPPING: dict[str, str] = {
    "ap-east-1": "ap-southeast-1",
    "ap-northeast-1": "ap-southeast-1",
    "ap-northeast-2": "ap-southeast-1",
    "ap-south-1": "ap-southeast-1",
    "ap-southeast-1": "ap-southeast-1",
    "ap-southeast-2": "ap-southeast-2",
    "ca-central-1": "us-east-1",
    "eu-central-1": "eu-west-2",
    "eu-central-2": "eu-west-2",
    "eu-north-1": "eu-west-2",
    "eu-west-1": "eu-west-2",
    "eu-west-2": "eu-west-2",
    "eu-west-3": "eu-west-2",
    "sa-east-1": "us-east-1",
    "us-east-1": "us-east-1",
    "us-east-2": "us-east-1",
    "us-west-1": "us-west-1",
    "us-west-2": "us-west-1",
}


def platform_region(region: Column) -> Column:
    """nodes.ex:30-37: tenant region -> platform region; unknown -> null."""
    mapping = F.create_map(
        *[F.lit(x) for kv in REGION_MAPPING.items() for x in kv]
    )
    return F.element_at(mapping, region)


def region_topology(nodes: DataFrame) -> DataFrame:
    """(region, node) rows -> one row per region with the name-sorted node
    array and its count (nodes.ex:68-73 sorts to stabilize list order)."""
    return nodes.groupBy("region").agg(
        F.array_sort(F.collect_list("node")).alias("nodes"),
        F.count(F.lit(1)).alias("node_count"),
    )


def expected_node(
    tenants: DataFrame,
    topology: DataFrame,
    default_node: str,
) -> DataFrame:
    """launch_node's deterministic answer per tenant: zero nodes in the
    platform region (or an untranslatable region) -> ``default_node``; one
    node -> it; else sorted_nodes[stable_hash(tenant_id) % count]
    (nodes.ex:117-128,150-153). Adds ``platform_region`` and
    ``expected_node``; broadcast join, tenant side stays map-only."""
    t = tenants.withColumn("platform_region", platform_region(F.col("region")))
    topo = F.broadcast(topology.withColumnRenamed("region", "platform_region"))
    j = t.join(topo, "platform_region", "left")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(PLACEMENT_SEED + ":"), F.col("tenant_id"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    idx = F.pmod(h, F.col("node_count")).cast("int")
    exp = (
        F.when(
            F.col("node_count").isNull() | (F.col("node_count") == 0),
            F.lit(default_node),
        )
        .when(F.col("node_count") == 1, F.element_at("nodes", 1))
        .otherwise(F.element_at(F.col("nodes"), idx + F.lit(1)))
    )
    return j.withColumn("expected_node", exp).drop("nodes", "node_count")


def rebalance_audit(
    placements: DataFrame,
    nodes_prev: DataFrame,
    nodes_cur: DataFrame,
    default_node: str,
) -> DataFrame:
    """Operations.rebalance as a query: which tenants sit on the wrong node?

    ``placements``: (tenant_id, region, current_node) — the live connection
    registry. ``nodes_prev``/``nodes_cur``: (region, node) membership at the
    two observation points Rebalancer.check compares.

    A tenant is ``misplaced`` iff the CLUSTER-WIDE node set is unchanged
    between the observations and launch_node's deterministic answer differs
    from ``current_node`` (operations.ex:19-22). The stability gate is
    global, not per-region: the reference snapshots ``Node.list()`` — every
    connected node — and any membership change anywhere suppresses every
    verdict until the next check (connect.ex:366-369,567-569;
    rebalancer.ex:14-28). Output keeps the verdict per tenant with the
    stability flag so the caller can separate 'wrong node' from 'cluster
    still settling'.
    """
    cur_topo = region_topology(nodes_cur)
    # global stability from ONE aggregation over the tagged union of both
    # observations (region-blind, like Node.list()): a join formulation
    # would need a full outer, which cannot broadcast
    tagged = nodes_prev.select("node", F.lit("p").alias("_obs")).unionByName(
        nodes_cur.select("node", F.lit("c").alias("_obs"))
    )
    stability = tagged.groupBy().agg(
        (
            F.array_sort(F.collect_set(F.when(F.col("_obs") == "p", F.col("node"))))
            == F.array_sort(
                F.collect_set(F.when(F.col("_obs") == "c", F.col("node")))
            )
        ).alias("stable")
    )
    placed = expected_node(placements, cur_topo, default_node)
    out = placed.crossJoin(F.broadcast(stability))
    return out.select(
        "tenant_id",
        "platform_region",
        "current_node",
        "expected_node",
        "stable",
        (F.col("stable") & (F.col("current_node") != F.col("expected_node"))).alias(
            "misplaced"
        ),
    )
