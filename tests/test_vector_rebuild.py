"""Centroid-drift maintenance for the streaming vector store
(streaming/vector_ingest.py: vector_drift / rebuild_vector_index /
maintain_vector_index).

The drift fixture is closed-form: the store is seeded from the real
embeddings, then fed NEGATED vectors — each sits diametrically opposite
its source, so its cosine distance to every centroid is large and the
recent/base assignment-distance ratio must exceed 1. The rebuild must
(a) publish new centroids and a reassigned index with one atomic commit,
(b) keep serving the OLD pair if it crashes at any earlier point, and
(c) leave search over the live store equal to the batch IVF answer with
the new centroids — including for epochs ingested AFTER the rebuild,
which must assign against the published (new) centroid set.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from realtime_spark.operators.similarity import ivf_topk, ivf_topk_from_index
from realtime_spark.sources.testdata import load_table
from realtime_spark.streaming.compaction import read_manifest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from realtime_spark.session import get_spark

    return get_spark("test_vector_rebuild", cpus=4)


def _parts(spark):
    e = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    cents = e.filter(F.col("vec_id") % 50 == 0)
    # TIGHT base: exact copies of the centroids (assignment distance ~0)
    # plus a few loose real vectors so base_dist stays strictly positive —
    # the fitted-distribution baseline the drift ratio divides by
    corpus = cents.select(
        (F.col("vec_id") + 20000).alias("vec_id"), "embedding"
    ).unionByName(e.filter(F.col("vec_id") % 50 == 1))
    # drifted arrivals: negated real vectors — diametrically opposite their
    # sources, far from every centroid
    drifted = e.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 400)).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    return e, corpus, cents, drifted


def _topk_sets(spark, root, queries, cents_like, k=5, nprobe=2):
    from realtime_spark.streaming.vector_ingest import (
        searchable_index,
        stored_centroids,
    )

    cents = stored_centroids(spark, root).select(
        F.col("centroid_id").alias("vec_id"), F.col("cent_vec").alias("embedding")
    )
    return sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ivf_topk_from_index(
            searchable_index(spark, root), queries, cents, k=k, nprobe=nprobe
        ).collect()
    )


def test_drift_detect_rebuild_swap_and_equivalence(spark, tmp_path):
    from realtime_spark.streaming.vector_ingest import (
        maintain_vector_index,
        process_vector_batch,
        searchable_index,
        stored_centroids,
        vector_drift,
    )

    e, corpus, cents, drifted = _parts(spark)
    root = str(tmp_path / "vstore")
    from realtime_spark.streaming.vector_ingest import seed_vector_state

    seed_vector_state(corpus, cents, root)
    half = drifted.filter(F.col("vec_id") < 10250)
    rest = drifted.filter(F.col("vec_id") >= 10250)
    process_vector_batch(half, 0, root)
    process_vector_batch(rest, 1, root)

    d = vector_drift(spark, root)
    assert d["recent_rows"] > 0 and d["base_rows"] > 0
    assert d["ratio"] is not None and d["ratio"] > 1.2, d

    # below threshold: no rebuild, store untouched
    noop = maintain_vector_index(spark, root, drift_ratio_threshold=d["ratio"] * 10)
    assert noop["rebuilt"] is False and read_manifest(f"{root}/ivf") is None

    out = maintain_vector_index(spark, root, drift_ratio_threshold=1.2, iters=2)
    assert out["rebuilt"] is True
    m = read_manifest(f"{root}/ivf")
    assert m["base"] == "c0" and m["centroids"] == "centroids_v0"
    assert os.path.isdir(f"{root}/centroids_v0")

    # new centroids actually moved (members of negated clusters pull means)
    old = {
        r["centroid_id"]: list(r["cent_vec"])
        for r in spark.read.parquet(f"{root}/centroids").collect()
    }
    new = {
        r["centroid_id"]: list(r["cent_vec"])
        for r in stored_centroids(spark, root).collect()
    }
    assert new != old

    # search equivalence: live store + published centroids == batch IVF
    # over the same vectors with the same (new) centroids
    queries = e.filter(F.col("vec_id") < 8)
    live_vecs = searchable_index(spark, root).select("vec_id", "embedding")
    cents_new = stored_centroids(spark, root).select(
        F.col("centroid_id").alias("vec_id"), F.col("cent_vec").alias("embedding")
    )
    want = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ivf_topk(live_vecs, queries, cents_new, k=5, nprobe=2).collect()
    )
    got = _topk_sets(spark, root, queries, cents_new)
    assert got == want and got

    # drift after rebuild: everything is base now — no recent rows, no ratio
    d2 = vector_drift(spark, root)
    assert d2["recent_rows"] == 0 and d2["ratio"] is None
    assert maintain_vector_index(spark, root, drift_ratio_threshold=1.0)[
        "rebuilt"
    ] is False

    # post-rebuild ingest assigns against the PUBLISHED (new) centroids and
    # search off the live store still equals the batch answer
    extra = e.filter(F.col("vec_id") % 2 == 1).select(
        (F.col("vec_id") + 50000).alias("vec_id"), "embedding"
    )
    process_vector_batch(extra, 2, root)
    live_vecs = searchable_index(spark, root).select("vec_id", "embedding")
    want2 = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ivf_topk(live_vecs, queries, cents_new, k=5, nprobe=2).collect()
    )
    assert _topk_sets(spark, root, queries, cents_new) == want2

    # a later plain compaction must CARRY the centroids pointer forward
    from realtime_spark.streaming.vector_ingest import VECTOR_STORE

    VECTOR_STORE.compact(spark, root)
    m2 = read_manifest(f"{root}/ivf")
    assert m2["base"] == "c1" and m2["centroids"] == "centroids_v0"
    assert _topk_sets(spark, root, queries, cents_new) == want2


def test_crashed_rebuild_keeps_serving_old_pair(spark, tmp_path, monkeypatch):
    import realtime_spark.streaming.compaction as compaction
    from realtime_spark.streaming.vector_ingest import (
        process_vector_batch,
        rebuild_vector_index,
        seed_vector_state,
        stored_centroids,
    )

    e, corpus, cents, drifted = _parts(spark)
    root = str(tmp_path / "vstore")
    seed_vector_state(corpus, cents, root)
    process_vector_batch(drifted, 0, root)

    queries = e.filter(F.col("vec_id") < 8)
    before_cents = sorted(
        map(tuple, (r for r in stored_centroids(spark, root).collect()))
    )
    before_top = _topk_sets(spark, root, queries, None)

    # crash AFTER the new centroid version is written but BEFORE the index
    # fold commits: the manifest never changes, so readers keep the old pair
    real = compaction.compact_store

    def boom(*a, **k):
        raise RuntimeError("simulated crash before commit")

    monkeypatch.setattr(compaction, "compact_store", boom)
    with pytest.raises(RuntimeError):
        rebuild_vector_index(spark, root)
    monkeypatch.setattr(compaction, "compact_store", real)

    assert os.path.isdir(f"{root}/centroids_v0")  # orphan, unreferenced
    assert read_manifest(f"{root}/ivf") is None
    assert (
        sorted(map(tuple, (r for r in stored_centroids(spark, root).collect())))
        == before_cents
    )
    assert _topk_sets(spark, root, queries, None) == before_top

    # the retried rebuild overwrites the orphan and completes
    m = rebuild_vector_index(spark, root)
    assert m["centroids"] == "centroids_v0" and m["base"] == "c0"
