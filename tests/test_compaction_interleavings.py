"""Randomized crash-interleaving property tests for the VECTOR and SEARCH
streaming stores (r6 verdict ask: the corpus-ingest trio already has one in
test_compaction.py::test_compaction_random_interleavings; these cover the
two stores with distinct fold shapes and their own crash windows).

Ops arrive in seeded-random order against a pure-Python visibility model:
real ingest epochs (monotone epoch ids — the rewind guard's contract),
compactions, REBUILDS (vector store: k-means refine + atomic centroids
pointer swap), simulated crash leftovers of every protocol step (stale
staging, revealed-but-uncommitted c-dir, post-commit orphan, a rebuild
that died after writing its centroids_v dir but before the manifest
commit), and GC. After every op:

  - vector store: the visible vec_id set equals the model (no doubles, no
    losses), and stored_centroids resolves to a readable directory — the
    manifest's ``centroids`` pointer never dangles, whatever order rebuild
    and compaction commits landed in.
  - search store: BM25 off the live store is BIT-IDENTICAL to the batch
    operator over the model's document set, and the folded stat partials
    sum to exactly the model's doc count.
"""

from __future__ import annotations

import os
import random
import shutil

import pytest
from pyspark.sql import functions as F

from realtime_spark.sources.testdata import load_table
from realtime_spark.streaming.compaction import (
    gc_store,
    read_manifest,
    read_store,
)
from realtime_spark.streaming.search_ingest import SEARCH_STORE
from realtime_spark.streaming.vector_ingest import VECTOR_STORE

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from realtime_spark.session import get_spark

    return get_spark("test_compaction_interleavings", cpus=4)


def _crash_stage(store: str) -> None:
    gen = (read_manifest(store) or {"generation": -1})["generation"] + 1
    os.makedirs(f"{store}/_staging_c{gen}/junk", exist_ok=True)


def _crash_reveal(store: str) -> None:
    # an uncommitted c-dir: only constructible once a manifest exists
    # (compact_store installs the pre-manifest before any rename)
    m = read_manifest(store)
    if m is None:
        return
    gen = m["generation"] + 1
    src = next(
        (
            f"{store}/{n}"
            for n in sorted(os.listdir(store))
            if n.startswith("ingest_epoch=")
        ),
        None,
    )
    dst = f"{store}/ingest_epoch=c{gen}"
    if src and not os.path.exists(dst):
        shutil.copytree(src, dst)


def _crash_orphan(store: str, df_writer) -> None:
    m = read_manifest(store)
    if m is None:
        return
    k = int(m["min_epoch"]) - 1
    if k < 0:
        return
    df_writer(f"{store}/ingest_epoch=e{k}")


# ---------------------------------------------------------------------------
# vector store (IVF fold + rebuild's centroids pointer)
# ---------------------------------------------------------------------------


def test_vector_store_random_interleavings(spark, tmp_path):
    from realtime_spark.streaming.vector_ingest import (
        process_vector_batch,
        rebuild_vector_index,
        searchable_index,
        seed_vector_state,
        stored_centroids,
    )

    e = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    corpus = e.filter("vec_id % 4 = 0")
    cents = e.filter("vec_id % 50 = 0")
    pool = [r["vec_id"] for r in e.filter("vec_id % 4 <> 0").select("vec_id").collect()]
    pool.sort()
    slices = [pool[i : i + 25] for i in range(0, min(len(pool), 150), 25)]

    rng = random.Random(20260815)
    for scenario in range(3):
        root = str(tmp_path / f"v{scenario}")
        seed_vector_state(corpus, cents, root)
        model = {r["vec_id"] for r in corpus.select("vec_id").collect()}
        next_epoch = 0
        ingested: list[list[int]] = []

        def ingest():
            nonlocal next_epoch
            ids = slices[len(ingested) % len(slices)]
            ingested.append(ids)
            process_vector_batch(
                e.filter(F.col("vec_id").isin(ids)), next_epoch, root
            )
            model.update(ids)
            next_epoch += 1

        def redeliver():
            nonlocal next_epoch
            if not ingested:
                return
            ids = ingested[rng.randrange(len(ingested))]
            # already-indexed ids under a NEW epoch: all rejected
            process_vector_batch(
                e.filter(F.col("vec_id").isin(ids)), next_epoch, root
            )
            next_epoch += 1

        def compact():
            VECTOR_STORE.compact(spark, root)

        def rebuild():
            rebuild_vector_index(spark, root)

        def crash_rebuild_cdir():
            # a rebuild that died after writing its centroid version but
            # before the manifest commit: the dir exists, nothing points
            # at it — stored_centroids must keep resolving the old version
            gen = (read_manifest(f"{root}/ivf") or {"generation": -1})[
                "generation"
            ] + 1
            stored_centroids(spark, root).write.mode("overwrite").parquet(
                f"{root}/centroids_v{gen}"
            )

        def crash_stage():
            _crash_stage(f"{root}/ivf")

        def crash_reveal():
            _crash_reveal(f"{root}/ivf")

        def crash_orphan():
            _crash_orphan(
                f"{root}/ivf",
                lambda p: corpus.limit(3)
                .withColumn("centroid_id", F.lit(0))
                .withColumn("c_cos", F.lit(0.0))
                .write.mode("overwrite")
                .partitionBy("centroid_id")
                .parquet(p),
            )

        def run_gc():
            gc_store(f"{root}/ivf")

        ingest()
        ops = [
            ingest, ingest, redeliver, compact, rebuild,
            crash_rebuild_cdir, crash_stage, crash_reveal, crash_orphan, run_gc,
        ]
        for step in range(8):
            op = rng.choice(ops)
            op()
            got = sorted(
                r["vec_id"]
                for r in searchable_index(spark, root).select("vec_id").collect()
            )
            assert got == sorted(model), (
                f"scenario {scenario} step {step} op {op.__name__}: "
                f"visible vec_ids diverged from model\n"
                f"manifest: {read_manifest(f'{root}/ivf')}"
            )
            # the centroids pointer never dangles
            pointed = (read_manifest(f"{root}/ivf") or {}).get(
                "centroids", "centroids"
            )
            assert os.path.isdir(f"{root}/{pointed}")
            assert stored_centroids(spark, root).count() == cents.count()


# ---------------------------------------------------------------------------
# search store (postings/doclen/stats folds; stats SUM into one partial)
# ---------------------------------------------------------------------------


def test_search_store_random_interleavings(spark, tmp_path):
    from realtime_spark.operators.search import bm25_topk
    from realtime_spark.streaming.search_ingest import (
        bm25_topk_from_live_index,
        process_search_batch,
        seed_search_state,
    )

    d = load_table(spark, SF, "documents").select("doc_id", "text")
    corpus = d.filter("doc_id % 4 = 0")
    pool = [r["doc_id"] for r in d.filter("doc_id % 4 <> 0").select("doc_id").collect()]
    pool.sort()
    slices = [pool[i : i + 30] for i in range(0, min(len(pool), 180), 30)]
    terms = ["data", "model", "the"]

    def _rows(df):
        return sorted(
            (r["doc"], r["score"], r["rank"]) for r in df.collect()
        )

    rng = random.Random(20260816)
    for scenario in range(3):
        root = str(tmp_path / f"s{scenario}")
        seed_search_state(corpus, root)
        model = {r["doc_id"] for r in corpus.select("doc_id").collect()}
        next_epoch = 0
        ingested: list[list[int]] = []

        def ingest():
            nonlocal next_epoch
            ids = slices[len(ingested) % len(slices)]
            ingested.append(ids)
            process_search_batch(
                d.filter(F.col("doc_id").isin(ids)), next_epoch, root
            )
            model.update(ids)
            next_epoch += 1

        def redeliver():
            nonlocal next_epoch
            if not ingested:
                return
            ids = ingested[rng.randrange(len(ingested))]
            process_search_batch(
                d.filter(F.col("doc_id").isin(ids)), next_epoch, root
            )
            next_epoch += 1

        def compact():
            SEARCH_STORE.compact(spark, root)

        def crash_stage():
            _crash_stage(f"{root}/{rng.choice(['postings', 'doclen', 'stats'])}")

        def crash_reveal():
            _crash_reveal(f"{root}/{rng.choice(['postings', 'doclen'])}")

        def crash_orphan():
            # an orphaned stats partial is the nastiest leftover: if a
            # reader ever admitted it, every BM25 score would shift
            _crash_orphan(
                f"{root}/stats",
                lambda p: spark.createDataFrame(
                    [(999, 99999)], "n_docs bigint, sum_dl bigint"
                ).write.mode("overwrite").parquet(p),
            )

        def run_gc():
            for sub in ("postings", "doclen", "stats"):
                gc_store(f"{root}/{sub}")

        ingest()
        ops = [
            ingest, ingest, redeliver, compact,
            crash_stage, crash_reveal, crash_orphan, run_gc,
        ]
        for step in range(8):
            op = rng.choice(ops)
            op()
            live = _rows(bm25_topk_from_live_index(spark, root, terms, k=20))
            want = _rows(
                bm25_topk(
                    d.filter(F.col("doc_id").isin(list(model))),
                    "doc_id", "text", terms, k=20,
                )
            )
            assert live == want and live, (
                f"scenario {scenario} step {step} op {op.__name__}: "
                f"BM25 off live store diverged from batch over the model"
            )
            n_docs = (
                read_store(spark, f"{root}/stats")
                .agg(F.sum("n_docs").alias("n"))
                .collect()[0]["n"]
            )
            assert n_docs == len(model)
