"""Streaming vector ingest: continuous IVF index maintenance with optional
semantic dedup — the embedding-side twin of streaming/ingest.py.

Arriving embedding batches are assigned to their nearest centroid
(ivf_assign — one Arrow-batched scan, zero shuffle), optionally rejected
when a vector's cosine to ANY already-indexed member of its bucket reaches
the dedup threshold (SemDeDup's cluster-confined comparison, applied
incrementally: the bucket bounds the candidate set, never all-pairs), and
the survivors are appended to the searchable on-disk IVF index the next
batch probes.

State layout (all parquet, under one root):

    <root>/centroids/                       the (static) centroid set
    <root>/ivf/ingest_epoch=seed/centroid_id=*/   the standing corpus index
    <root>/ivf/ingest_epoch=e{N}/centroid_id=*/   batch N's survivors
    <root>/accepted/ingest_epoch=seed/            empty (the id schema)
    <root>/accepted/ingest_epoch=e{N}/            survivor ids per epoch

Exactly-once follows the store-lifecycle engine's epoch protocol: each
epoch overwrites its own ``ingest_epoch=e{N}`` directories and excludes
them from its reads, so a crash-replay rewrites identical bytes instead of
self-deduping or duplicating (see streaming/compaction.py for the full
argument).

Search serves straight off the store: ``spark.read.parquet(<root>/ivf)``
is a valid index frame for ``ivf_topk_from_index`` — results are identical
to a batch index built over corpus ∪ accepted (asserted by the tests),
and the probe still prunes on the ``centroid_id`` partition level.

Scale shape per micro-batch: the batch is a daily increment — its assigned
rows broadcast into the bucket-membership join, so only index buckets the
batch actually touches are compared; the index is append-only (one new
partition directory per epoch). Centroid drift is handled by the
maintenance job at the bottom of this module: ``vector_drift`` measures
assignment-distance drift of recent epochs vs the base in one observed
scan, and ``rebuild_vector_index`` k-means-refines the centroids over the
live store, reassigns everything, and publishes (new centroids, new index)
with ONE atomic manifest commit — the store keeps serving the old pair
until that instant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_spark.operators.similarity import (
    cosine_expr,
    ivf_assign,
    kmeans_refine,
)
from realtime_spark.streaming.compaction import (
    Output,
    StoreSpec,
    drop_redelivered,
    read_manifest,
    read_store,
    run_store_stream,
)

ID, VEC = "vec_id", "embedding"

# `centroids` is not epochal: the seed writes it once, a rebuild publishes
# a new version through the ivf manifest
VECTOR_STORE = StoreSpec((
    Output("ivf", partition="centroid_id"),
    Output("accepted"),
))


def seed_vector_state(corpus: DataFrame, centroids: DataFrame, root: str) -> None:
    """Initialize the stores from the standing corpus (run once).
    ``accepted`` starts as an empty partition carrying the id schema, so it
    reads as zero rows until the first epoch lands."""
    centroids.select(
        F.col(ID).alias("centroid_id"), F.col(VEC).alias("cent_vec")
    ).write.mode("overwrite").parquet(f"{root}/centroids")
    with VECTOR_STORE.epoch(corpus, None, root) as ep:
        ep.write("ivf", ivf_assign(corpus, centroids, ID, VEC))
        ep.write("accepted", corpus.select(ID).limit(0))


def _as_id_vec(cents: DataFrame) -> DataFrame:
    """A (centroid_id, cent_vec) set in the store's (id, vector) columns,
    the shape ivf_assign and kmeans_refine take."""
    return cents.select(F.col("centroid_id").alias(ID), F.col("cent_vec").alias(VEC))


def process_vector_batch(
    batch_df: DataFrame,
    epoch_id: int,
    root: str,
    dedup_threshold: float | None = None,
) -> None:
    """One micro-batch: assign, (optionally) bucket-confined semantic dedup
    against everything already indexed, append survivors. Deterministic in
    (batch content, epoch_id); writes only epoch-owned directories."""
    with VECTOR_STORE.epoch(batch_df, epoch_id, root) as ep:
        # the PUBLISHED centroid set — the seed layout, or the version a
        # drift-triggered rebuild committed (named by the ivf manifest)
        cents = _as_id_vec(stored_centroids(ep.spark, root))
        # A re-delivered id would otherwise be appended twice: its
        # cosine-1.0 self-match is discarded by an id-inequality guard and
        # the row silently duplicated in the ivf/accepted stores. After the
        # guard the batch and the index are disjoint on id. Column-pruned id
        # scan; no broadcast hint — AQE broadcasts whichever side is small
        # (the batch, for increments against a year of index)
        fresh = drop_redelivered(batch_df, ep.read("ivf").select(ID), ID, VEC)
        assigned = ivf_assign(fresh, cents, ID, VEC)

        if dedup_threshold is not None:
            # two consumers below (the broadcast probe and the keep
            # anti-join): materialize once; the no-dedup path has a single
            # consumer — the ivf epoch write — so it needs no
            # materialization at all
            assigned = assigned.localCheckpoint()
            member = ep.read("ivf").select(
                "centroid_id",
                F.col(ID).alias("_m_id"),
                F.col(VEC).alias("_m_vec"),
            )
            # batch side broadcasts; only buckets the batch touches are compared
            dup_ids = (
                F.broadcast(assigned)
                .join(member, "centroid_id")
                .filter(
                    F.round(cosine_expr(F.col(VEC), F.col("_m_vec")), 6)
                    >= dedup_threshold
                )
                .select(ID)
                .distinct()
            )
            kept = assigned.join(F.broadcast(dup_ids), ID, "left_anti")
        else:
            kept = assigned

        # The ivf write IS kept's one materialization (r10): the accepted-id
        # write folds from the just-written epoch directory — byte-identical
        # input on replay — instead of a localCheckpoint that materialized
        # the same rows a second time (one full extra job per epoch).
        ep.write("accepted", ep.write_back("ivf", kept).select(ID))


def run_vector_ingest_stream(
    stream: DataFrame,
    root: str,
    checkpoint: str,
    dedup_threshold: float | None = None,
):
    """Wire the vector-ingest pipeline onto a streaming embedding source.
    Returns the started StreamingQuery; `seed_vector_state` must have run."""
    return run_store_stream(
        VECTOR_STORE, stream, checkpoint, process_vector_batch, root,
        dedup_threshold=dedup_threshold,
    )


def searchable_index(spark: SparkSession, root: str) -> DataFrame:
    """The live index (seed + every committed epoch; after compaction, the
    compacted base + later epochs) — a valid input for ivf_topk_from_index."""
    return read_store(spark, f"{root}/ivf")


# ---------------------------------------------------------------------------
# centroid-drift maintenance: detect -> rebuild -> atomic swap
# ---------------------------------------------------------------------------


def stored_centroids(spark: SparkSession, root: str) -> DataFrame:
    """The published (centroid_id, cent_vec) set for this store: the seed
    layout, or the rebuild version the ivf manifest points at. Searches off
    the live store must probe with THESE centroids — the set the index's
    partitions were assigned under."""
    sub = (read_manifest(f"{root}/ivf") or {}).get("centroids", "centroids")
    return spark.read.parquet(f"{root}/{sub}")


def vector_drift(spark: SparkSession, root: str) -> dict:
    """Assignment-distance drift metric, one index scan via ``observe``:
    mean cosine distance (1 - cos) to the assigned centroid, split between
    the compacted/seed BASE rows (the distribution the centroids were
    fitted to) and the post-base EPOCH rows (the recent arrivals). A ratio
    well above 1 means recent data sits far from every centroid — probe
    recall degrades and bucket sizes skew; rebuild."""
    from pyspark.sql import Observation

    cents = stored_centroids(spark, root)
    idx = searchable_index(spark, root)
    recent = F.col("ingest_epoch").startswith("e")
    dist = 1.0 - cosine_expr(F.col(VEC), F.col("cent_vec"))
    obs = Observation("vector_drift")
    (
        idx.join(F.broadcast(cents), "centroid_id")
        .observe(
            obs,
            F.avg(F.when(recent, dist)).alias("recent_dist"),
            F.avg(F.when(~recent, dist)).alias("base_dist"),
            F.count(F.when(recent, F.lit(1))).alias("recent_rows"),
            F.count(F.when(~recent, F.lit(1))).alias("base_rows"),
        )
        .count()
    )
    got = obs.get
    ratio = None
    if got["recent_dist"] is not None and got["base_dist"] is not None:
        if got["base_dist"] > 0.0:
            ratio = got["recent_dist"] / got["base_dist"]
        elif got["recent_dist"] > 0.0:
            # perfectly tight base + any recent distance IS drift — a None
            # ratio here would silently disable the rebuild trigger forever
            ratio = float("inf")
    return {**got, "ratio": ratio}


def _gc_centroid_versions(root: str, keep: set[str]) -> None:
    """Drop stale centroid version dirs, RETAINING the outgoing version as
    well as the new one — an in-flight search that resolved the manifest
    just before the commit may still be reading the predecessor (the same
    retention rule operators/publish.py applies to its version dirs)."""
    import os
    import shutil

    for name in os.listdir(root):
        if name.startswith("centroids_v") and name not in keep:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def rebuild_vector_index(spark: SparkSession, root: str, iters: int = 1) -> dict:
    """Centroid-drift rebuild: k-means-refine the centroids over the LIVE
    store, reassign every indexed vector, and publish (new centroids, new
    index) with ONE atomic commit — the ivf store's compaction manifest,
    which gains a ``centroids`` pointer naming the version directory. The
    store keeps serving the old index + old centroids until the commit
    instant (stage-then-swap); a crash at any point leaves only ignored
    orphans (the staged fold, the unreferenced centroids_v dir), and the
    next rebuild overwrites them. Requires the ingest stream stopped, the
    same contract as compaction. Reference analog: this is the vector
    store's 'partition GC + reindex' maintenance job."""
    # through the module attribute: the crash test swaps compact_store out
    from realtime_spark.streaming.compaction import compact_store

    prev_cdir = (read_manifest(f"{root}/ivf") or {}).get("centroids")
    cents_old = _as_id_vec(stored_centroids(spark, root))
    live = searchable_index(spark, root).select(ID, VEC).localCheckpoint()
    gen = (read_manifest(f"{root}/ivf") or {"generation": -1})["generation"] + 1
    new_cents = kmeans_refine(live, cents_old, ID, VEC, iters=iters)
    cdir = f"centroids_v{gen}"
    new_cents.select("centroid_id", "cent_vec").write.mode("overwrite").parquet(
        f"{root}/{cdir}"
    )
    cents_new = _as_id_vec(spark.read.parquet(f"{root}/{cdir}"))

    def fold(df: DataFrame, path: str) -> None:
        VECTOR_STORE["ivf"].write(
            ivf_assign(df.drop("centroid_id", "c_cos"), cents_new, ID, VEC), path
        )

    manifest = compact_store(
        spark, f"{root}/ivf", fold, extra_manifest={"centroids": cdir}
    )
    _gc_centroid_versions(root, keep={cdir} | ({prev_cdir} if prev_cdir else set()))
    return manifest


def maintain_vector_index(
    spark: SparkSession,
    root: str,
    drift_ratio_threshold: float = 2.0,
    iters: int = 1,
) -> dict:
    """The periodic maintenance entry point: measure assignment-distance
    drift; when recent arrivals sit ``drift_ratio_threshold`` times further
    from their centroids than the base distribution does, rebuild and swap
    atomically. Returns the drift report plus what was done."""
    d = vector_drift(spark, root)
    # no recent rows -> no recent distance -> a None ratio: never rebuilds
    if d["ratio"] is None or d["ratio"] < drift_ratio_threshold:
        return {**d, "rebuilt": False}
    manifest = rebuild_vector_index(spark, root, iters)
    return {**d, "rebuilt": True, "manifest": manifest}
