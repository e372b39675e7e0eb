"""Epoch compaction for the streaming stores (streaming/compaction.py):
the three ingest stores, the count monitors and the materialized view.

Equivalence is proven with TWIN stores: two roots run the identical batch
sequence through the real pipeline code; one is compacted mid-sequence
(and again at the end). Every read surface — accepted docs, digest sets,
LSH probes, IVF search, BM25 scores, counts, snapshots — must be
indistinguishable between the compacted and never-compacted twin,
including for batches ingested AFTER compaction (the stores keep
absorbing epochs).

Crash safety is proven by materializing each mid-protocol state the
stage-then-swap design can crash in (stale staging, revealed-but-
uncommitted c-dir, committed-but-unGC'd orphan) and asserting reads are
unchanged and the next compaction self-heals.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from realtime_spark.sources.testdata import load_table
from realtime_spark.streaming.compaction import (
    compact_store,
    gc_store,
    read_manifest,
    read_store,
)
from realtime_spark.streaming.ingest import INGEST_STORE
from realtime_spark.streaming.search_ingest import SEARCH_STORE
from realtime_spark.streaming.vector_ingest import VECTOR_STORE

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from realtime_spark.session import get_spark

    return get_spark("test_compaction", cpus=4)


def _data_dirs(store: str) -> list[str]:
    return sorted(
        n for n in os.listdir(store) if n.startswith("ingest_epoch=")
    )


# ---------------------------------------------------------------------------
# corpus ingest trio
# ---------------------------------------------------------------------------


def _corpus(spark):
    return (
        load_table(spark, SF, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 30)
    )


def _doc_batches(spark):
    from realtime_spark.operators.dedup import tokens_expr

    c = _corpus(spark)
    toks = tokens_expr(F.col("text"))
    fresh0 = c.select(
        (F.col("doc_id") + 3000).alias("doc_id"),
        F.array_join(F.reverse(toks), " ").alias("text"),
    )
    fresh1 = c.select(
        (F.col("doc_id") + 6000).alias("doc_id"),
        F.array_join(F.transform(toks, lambda t: F.concat(t, F.lit("x"))), " ")
        .alias("text"),
    )
    # b2 mixes fresh docs with exact dups of b0 survivors: the post-
    # compaction batch must still dedup against the COMPACTED state
    fresh2 = c.select(
        (F.col("doc_id") + 9000).alias("doc_id"),
        F.array_join(F.transform(toks, lambda t: F.concat(F.lit("y"), t)), " ")
        .alias("text"),
    )
    b2 = fresh2.unionByName(
        fresh0.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    )
    return fresh0, fresh1, b2


def test_corpus_ingest_compaction_equivalence(spark, tmp_path):
    from realtime_spark.operators.dedup import lsh_candidates_against_index
    from realtime_spark.streaming.ingest import (
        accepted_docs,
        process_ingest_batch,
        seed_ingest_state,
    )

    b0, b1, b2 = _doc_batches(spark)
    roots = [str(tmp_path / "a"), str(tmp_path / "b")]
    for root in roots:
        seed_ingest_state(_corpus(spark), root)
        process_ingest_batch(b0, 0, root)
        process_ingest_batch(b1, 1, root)

    # compact root A mid-sequence; B stays epoch-per-directory forever
    m = INGEST_STORE.compact(spark, roots[0])
    assert m["digests"]["base"] == "c0" and m["digests"]["min_epoch"] == 2
    # the folded stores are down to ONE data directory each
    assert _data_dirs(f"{roots[0]}/digests") == ["ingest_epoch=c0"]
    assert _data_dirs(f"{roots[0]}/accepted") == ["ingest_epoch=c0"]

    # both twins absorb a post-compaction batch (epoch ids continue)
    for root in roots:
        process_ingest_batch(b2, 2, root)

    def snap(root):
        acc = sorted(
            (r["doc_id"], r["text"]) for r in accepted_docs(spark, root).collect()
        )
        dig = sorted(
            r["digest"]
            for r in read_store(spark, f"{root}/digests").select("digest").collect()
        )
        probe = b0.select(
            (F.col("doc_id") + 77000).alias("doc_id"), "text"
        )
        near = sorted(
            (r["new_doc"], r["corpus_doc"])
            for r in lsh_candidates_against_index(
                probe, read_store(spark, f"{root}/lsh")
            ).collect()
        )
        return acc, dig, near

    a1, b_snap = snap(roots[0]), snap(roots[1])
    assert a1 == b_snap
    assert a1[0] and a1[2], "fixture must accept docs and produce LSH hits"

    # post-compaction crash-replay of the newest epoch stays idempotent
    process_ingest_batch(b2, 2, roots[0])
    assert snap(roots[0]) == b_snap

    # second generation: fold c0 + e2 into c1
    m2 = INGEST_STORE.compact(spark, roots[0])
    assert m2["digests"]["base"] == "c1" and m2["digests"]["min_epoch"] == 3
    assert _data_dirs(f"{roots[0]}/digests") == ["ingest_epoch=c1"]
    assert snap(roots[0]) == b_snap


# ---------------------------------------------------------------------------
# vector ingest
# ---------------------------------------------------------------------------


def test_vector_ingest_compaction_equivalence(spark, tmp_path):
    from realtime_spark.operators.similarity import ivf_topk_from_index
    from realtime_spark.streaming.vector_ingest import (
        process_vector_batch,
        searchable_index,
        seed_vector_state,
    )

    e = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    corpus = e.filter(F.col("vec_id") % 2 == 0)
    cents = e.filter(F.col("vec_id") % 50 == 0)
    b0 = e.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 100))
    b1 = e.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") >= 100))
    # b2: negated corpus vectors under new ids — genuinely novel directions
    # (cosine -1 to their sources), plus re-keyed copies that the dedup
    # must reject against the COMPACTED index
    b2 = corpus.select(
        (F.col("vec_id") + 30000).alias("vec_id"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
    ).unionByName(
        b0.select((F.col("vec_id") + 40000).alias("vec_id"), "embedding")
    )

    roots = [str(tmp_path / "a"), str(tmp_path / "b")]
    for root in roots:
        seed_vector_state(corpus, cents, root)
        process_vector_batch(b0, 0, root, dedup_threshold=0.999999)
        process_vector_batch(b1, 1, root, dedup_threshold=0.999999)

    VECTOR_STORE.compact(spark, roots[0])
    assert _data_dirs(f"{roots[0]}/accepted") == ["ingest_epoch=c0"]

    for root in roots:
        process_vector_batch(b2, 2, root, dedup_threshold=0.999999)

    queries = e.filter(F.col("vec_id") < 8)

    def snap(root):
        acc = sorted(
            r["vec_id"]
            for r in read_store(spark, f"{root}/accepted").select("vec_id").collect()
        )
        top = sorted(
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in ivf_topk_from_index(
                searchable_index(spark, root), queries, cents, k=5, nprobe=2
            ).collect()
        )
        return acc, top

    a_snap, b_snap = snap(roots[0]), snap(roots[1])
    assert a_snap == b_snap
    acc = set(a_snap[0])
    assert {r["vec_id"] + 30000 for r in corpus.select("vec_id").collect()} <= acc
    assert not any(v >= 40000 and v < 50000 for v in acc), (
        "re-keyed copies must be rejected against the compacted index"
    )


# ---------------------------------------------------------------------------
# search ingest
# ---------------------------------------------------------------------------


def test_search_ingest_compaction_equivalence(spark, tmp_path):
    from realtime_spark.streaming.search_ingest import (
        bm25_topk_from_live_index,
        process_search_batch,
        seed_search_state,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 40)
    b0 = docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 80))
    b1 = docs.filter((F.col("doc_id") >= 80) & (F.col("doc_id") < 120))
    b2 = docs.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 160))

    roots = [str(tmp_path / "a"), str(tmp_path / "b")]
    for root in roots:
        seed_search_state(corpus, root)
        process_search_batch(b0, 0, root)
        process_search_batch(b1, 1, root)

    SEARCH_STORE.compact(spark, roots[0])
    assert _data_dirs(f"{roots[0]}/stats") == ["ingest_epoch=c0"]
    # stat partials summed into exactly one base row
    assert spark.read.parquet(f"{roots[0]}/stats/ingest_epoch=c0").count() == 1

    for root in roots:
        process_search_batch(b2, 2, root)

    terms = ["data", "model", "the"]

    def snap(root):
        return sorted(
            (r["doc"], r["score"], r["rank"])
            for r in bm25_topk_from_live_index(spark, root, terms, k=25).collect()
        )

    a_snap, b_snap = snap(roots[0]), snap(roots[1])
    assert a_snap == b_snap and a_snap, "BM25 off compacted store must be bit-identical"


# ---------------------------------------------------------------------------
# count monitors and the materialized view (no seed: epochs from e0)
# ---------------------------------------------------------------------------


def _twin_epochs(roots, process, batches, upto):
    for root in roots:
        for n, b in enumerate(batches[:upto]):
            process(b, n, root)


def test_count_store_compaction_equivalence(spark, tmp_path):
    """Both count monitors: the COUNTS fold (the sum read_counts applies)
    leaves the accumulated counts bit-identical, before and after a later
    epoch."""
    from functools import partial

    from realtime_spark.streaming.monitors import (
        COUNTS,
        process_bin_batch,
        process_hourly_batch,
        read_counts,
    )

    events = load_table(spark, SF, "events")
    batches = [events.filter(F.col("event_id") % 3 == i) for i in range(3)]
    monitors = {
        "hourly": partial(process_hourly_batch, keys=["event_type"]),
        "bins": partial(
            process_bin_batch, keys=["event_type"], value_col="value",
            lo=0.0, hi=500.0, nbins=50,
        ),
    }
    for name, process in monitors.items():
        roots = [str(tmp_path / f"{name}_a"), str(tmp_path / f"{name}_b")]
        _twin_epochs(roots, process, batches, 2)
        m = COUNTS.compact(spark, roots[0])
        assert m["counts"]["min_epoch"] == 2
        assert _data_dirs(f"{roots[0]}/counts") == ["ingest_epoch=c0"]
        for root in roots:
            process(batches[2], 2, root)

        def snap(root):
            df = read_counts(spark, root)
            return df.schema, sorted(map(tuple, df.collect()))

        b_snap = snap(roots[1])
        assert snap(roots[0]) == b_snap and b_snap[1], name
        COUNTS.compact(spark, roots[0])
        assert snap(roots[0]) == b_snap, name


def test_snapshot_store_compaction_equivalence(spark, tmp_path):
    """The materialized view: the SNAPSHOT fold (merge_snapshots, as in
    serve_snapshot) leaves the served snapshot bit-identical, n_versions
    included, and keeps the table_name layout."""
    from realtime_spark.sources.testdata import versioned_changes_from_orders
    from realtime_spark.streaming.materialize_stream import (
        SNAPSHOT,
        process_materialize_batch,
        serve_snapshot,
    )

    changes = versioned_changes_from_orders(spark, SF)
    batches = [changes.filter(F.col("seq") == s) for s in (1, 2)]
    batches.append(changes.filter(F.col("seq") >= 3))
    roots = [str(tmp_path / "a"), str(tmp_path / "b")]
    _twin_epochs(roots, process_materialize_batch, batches, 2)
    SNAPSHOT.compact(spark, roots[0])
    base = f"{roots[0]}/snapshot/ingest_epoch=c0"
    assert {d.split("=")[0] for d in os.listdir(base) if "=" in d} == {"table_name"}
    for root in roots:
        process_materialize_batch(batches[2], 2, root)

    def snap(root):
        df = serve_snapshot(spark, root)
        rows = sorted(df.collect(), key=lambda r: (r["table_name"], r["pk_text"]))
        return df.schema, rows

    b_snap = snap(roots[1])
    assert snap(roots[0]) == b_snap and b_snap[1]
    SNAPSHOT.compact(spark, roots[0])
    assert _data_dirs(f"{roots[0]}/snapshot") == ["ingest_epoch=c1"]
    assert snap(roots[0]) == b_snap


# ---------------------------------------------------------------------------
# every store: the seed writes every output, folds keep the probe layout
# ---------------------------------------------------------------------------


def _docs(spark, lo, hi):
    return (
        load_table(spark, SF, "documents")
        .select("doc_id", "text")
        .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
    )


def _vectors(spark):
    e = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    return e, e.filter(F.col("vec_id") % 50 == 0)


def test_fresh_seed_reads_and_compacts(spark, tmp_path):
    """A freshly seeded root has every output of its store: `accepted`
    reads as zero rows before the first epoch (a drain over an empty
    source ends here), and the store compacts straight after its seed."""
    from realtime_spark.streaming.ingest import accepted_docs, seed_ingest_state
    from realtime_spark.streaming.search_ingest import seed_search_state
    from realtime_spark.streaming.vector_ingest import seed_vector_state

    e, cents = _vectors(spark)
    roots = {n: str(tmp_path / n) for n in ("corpus", "vec", "search")}
    seed_ingest_state(_docs(spark, 0, 40), roots["corpus"])
    seed_vector_state(e.filter(F.col("vec_id") % 2 == 0), cents, roots["vec"])
    seed_search_state(_docs(spark, 0, 40), roots["search"])

    assert accepted_docs(spark, roots["corpus"]).count() == 0
    assert read_store(spark, f"{roots['vec']}/accepted").count() == 0
    for spec, name in [
        (INGEST_STORE, "corpus"),
        (VECTOR_STORE, "vec"),
        (SEARCH_STORE, "search"),
    ]:
        m = spec.compact(spark, roots[name])
        assert sorted(m) == sorted(spec.names)
        for out in spec.names:
            assert _data_dirs(f"{roots[name]}/{out}") == ["ingest_epoch=c0"]
    assert accepted_docs(spark, roots["corpus"]).count() == 0


def test_fold_keeps_probe_layout(spark, tmp_path):
    """Probe pruning reads only the sub-partitions a probe touches: `band`
    of lsh, `centroid_id` of ivf, `bucket` of postings. The seed, an epoch
    and the compacted base all keep that `<col>=*` layout, and the base
    holds exactly the sub-partitions of the partitions it folded."""
    from realtime_spark.streaming.ingest import process_ingest_batch, seed_ingest_state
    from realtime_spark.streaming.search_ingest import (
        process_search_batch,
        seed_search_state,
    )
    from realtime_spark.streaming.vector_ingest import (
        process_vector_batch,
        seed_vector_state,
    )

    e, cents = _vectors(spark)
    roots = {n: str(tmp_path / n) for n in ("corpus", "vec", "search")}
    seed_ingest_state(_corpus(spark), roots["corpus"])
    process_ingest_batch(_doc_batches(spark)[0], 0, roots["corpus"])
    seed_vector_state(e.filter(F.col("vec_id") % 2 == 0), cents, roots["vec"])
    process_vector_batch(e.filter(F.col("vec_id") % 2 == 1), 0, roots["vec"])
    seed_search_state(_docs(spark, 0, 40), roots["search"])
    process_search_batch(_docs(spark, 40, 80), 0, roots["search"])

    def subparts(path, col):
        return {n for n in os.listdir(path) if n.startswith(f"{col}=")}

    for spec, name, out, col in [
        (INGEST_STORE, "corpus", "lsh", "band"),
        (VECTOR_STORE, "vec", "ivf", "centroid_id"),
        (SEARCH_STORE, "search", "postings", "bucket"),
    ]:
        store = f"{roots[name]}/{out}"
        folded = set()
        for tag in ("seed", "e0"):
            got = subparts(f"{store}/ingest_epoch={tag}", col)
            assert got, f"{out} {tag} has no {col}=* subdirectories"
            folded |= got
        spec.compact(spark, roots[name])
        assert subparts(f"{store}/ingest_epoch=c0", col) == folded, out


# ---------------------------------------------------------------------------
# crash windows (stage-then-swap protocol, publish.py:100 discipline)
# ---------------------------------------------------------------------------


def _mini_store(spark, tmp_path, n_epochs=3) -> str:
    store = str(tmp_path / "mini")
    for i in range(n_epochs):
        spark.range(i * 10, i * 10 + 10).toDF("v").write.mode(
            "overwrite"
        ).parquet(f"{store}/ingest_epoch=e{i}")
    return store


def _values(spark, store) -> list[int]:
    return sorted(r["v"] for r in read_store(spark, store).select("v").collect())


def test_crash_stale_staging_is_invisible_and_healed(spark, tmp_path):
    store = _mini_store(spark, tmp_path)
    want = _values(spark, store)
    # crash during stage: a partial _staging dir is left behind
    os.makedirs(f"{store}/_staging_c0/garbage")
    assert _values(spark, store) == want  # underscore dirs never scanned
    m = compact_store(spark, store, lambda df, p: df.write.parquet(p))
    assert m["base"] == "c0" and _values(spark, store) == want
    assert not any(n.startswith("_staging") for n in os.listdir(store))


def test_crash_in_write_fold_leaves_store_unchanged(spark, tmp_path):
    store = _mini_store(spark, tmp_path)
    want = _values(spark, store)

    def boom(df, path):
        df.limit(5).write.parquet(path)  # partial output
        raise RuntimeError("simulated crash mid-stage")

    with pytest.raises(RuntimeError):
        compact_store(spark, store, boom)
    assert _values(spark, store) == want
    # the pre-manifest installed before staging is everything-visible
    assert read_manifest(store)["base"] == "seed"
    m = compact_store(spark, store, lambda df, p: df.write.parquet(p))
    assert m["base"] == "c0" and _values(spark, store) == want


def test_crash_revealed_but_uncommitted_cdir_is_ignored(spark, tmp_path):
    store = _mini_store(spark, tmp_path)
    compact_store(spark, store, lambda df, p: df.write.parquet(p))
    want = _values(spark, store)
    # simulate a gen-1 attempt that crashed between rename and commit:
    # a c1 directory exists but the manifest still names c0
    shutil.copytree(f"{store}/ingest_epoch=c0", f"{store}/ingest_epoch=c1")
    assert _values(spark, store) == want  # uncommitted dir not admitted
    m = compact_store(spark, store, lambda df, p: df.write.parquet(p))
    assert m["base"] == "c1" and _values(spark, store) == want
    assert _data_dirs(store) == ["ingest_epoch=c1"]


def test_crash_after_commit_orphans_are_ignored_and_gcd(spark, tmp_path):
    store = _mini_store(spark, tmp_path)
    compact_store(spark, store, lambda df, p: df.write.parquet(p))
    want = _values(spark, store)
    # simulate a crash after commit but before GC: a folded epoch dir is
    # still on disk (min_epoch excludes it)
    spark.range(0, 10).toDF("v").write.parquet(f"{store}/ingest_epoch=e0")
    assert _values(spark, store) == want
    removed = gc_store(store)
    assert "ingest_epoch=e0" in removed
    assert _values(spark, store) == want


def test_compaction_admits_epochs_written_after_it(spark, tmp_path):
    store = _mini_store(spark, tmp_path, n_epochs=2)  # e0, e1
    compact_store(spark, store, lambda df, p: df.write.parquet(p))
    # the stream continues with epoch 2 — must be visible immediately
    spark.range(100, 105).toDF("v").write.parquet(f"{store}/ingest_epoch=e2")
    assert _values(spark, store) == sorted(list(range(20)) + list(range(100, 105)))


def test_scheduled_compaction_poll_loop(spark, tmp_path):
    """run_ingest_cycles: availableNow drain cycles with compaction as a
    threshold janitor between them (the reference's periodic partition-GC
    shape, messages.ex:72-102). Twin roots run identical arrivals — one
    through the loop with max_epochs=2, one with plain batch folds and no
    compaction ever. The loop must auto-compact when the threshold trips,
    keep absorbing epochs afterwards, and every read surface must stay
    bit-identical to the never-compacted twin."""
    from realtime_spark.streaming.compaction import (
        run_ingest_cycles,
        should_compact,
        store_epoch_count,
    )
    from realtime_spark.streaming.ingest import (
        accepted_docs,
        process_ingest_batch,
        run_ingest_stream,
        seed_ingest_state,
    )

    b0, b1, b2 = _doc_batches(spark)
    batches = [b0, b1, b2]
    loop_root = str(tmp_path / "loop")
    twin_root = str(tmp_path / "twin")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    seed_ingest_state(_corpus(spark), loop_root)
    seed_ingest_state(_corpus(spark), twin_root)
    for i, b in enumerate(batches):
        process_ingest_batch(b, i, twin_root)

    # one new source file lands before each cycle — each drain is one epoch
    arrivals = iter(batches)

    def start_stream():
        next(arrivals).coalesce(1).write.parquet(f"{src}/f{os.listdir(src).__len__()}")
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        return run_ingest_stream(stream, loop_root, ckpt)

    telemetry = run_ingest_cycles(
        spark,
        loop_root,
        start_stream,
        INGEST_STORE,
        cycles=3,
        max_epochs=2,
    )
    # epochs 0,1 accumulate; the cycle-1 threshold fires; cycle 2 ingests
    # into the compacted store and stays below threshold
    assert [t["compacted"] for t in telemetry] == [False, True, False]
    assert telemetry[1]["files_after"] < telemetry[1]["files_before"]
    assert store_epoch_count(f"{loop_root}/accepted") == 1  # only e2
    assert not should_compact(loop_root, INGEST_STORE.names, max_epochs=2)

    def snap(root):
        acc = sorted(
            (r["doc_id"], r["text"]) for r in accepted_docs(spark, root).collect()
        )
        dig = sorted(
            r["digest"]
            for r in read_store(spark, f"{root}/digests").select("digest").collect()
        )
        return acc, dig

    assert snap(loop_root) == snap(twin_root)
    assert snap(loop_root)[0], "fixture must accept documents"


def _hourly_monitor(spark):
    from functools import partial

    from realtime_spark.streaming.monitors import (
        COUNTS,
        process_hourly_batch,
        read_counts,
        run_hourly_count_stream,
    )

    events = load_table(spark, SF, "events")
    batches = [events.filter(F.col("event_id") % 3 == i) for i in range(3)]
    keys = ["event_type"]
    return (
        COUNTS,
        batches,
        partial(process_hourly_batch, keys=keys),
        partial(run_hourly_count_stream, keys=keys),
        read_counts,
    )


def _materialized_view(spark):
    from realtime_spark.sources.testdata import versioned_changes_from_orders
    from realtime_spark.streaming.materialize_stream import (
        SNAPSHOT,
        process_materialize_batch,
        run_materialize_stream,
        serve_snapshot,
    )

    changes = versioned_changes_from_orders(spark, SF)
    batches = [changes.filter(F.col("seq") == s) for s in (1, 2)]
    batches.append(changes.filter(F.col("seq") >= 3))
    return (
        SNAPSHOT,
        batches,
        process_materialize_batch,
        run_materialize_stream,
        serve_snapshot,
    )


@pytest.mark.parametrize(
    "store", [_hourly_monitor, _materialized_view], ids=["counts", "snapshot"]
)
def test_scheduled_compaction_poll_loop_view_and_monitors(spark, tmp_path, store):
    """run_ingest_cycles is the run-forever loop of the stores that merge
    their epochs at read time too: three availableNow drains of the hourly
    count monitor (COUNTS) or the materialized view (SNAPSHOT) with
    max_epochs=2. The janitor fires on the second drain, so a read merges
    one base and one epoch, not every epoch ever written, and
    read_counts/serve_snapshot equal a never-compacted twin."""
    from realtime_spark.streaming.compaction import (
        run_ingest_cycles,
        store_epoch_count,
    )

    spec, batches, process, run_stream, read = store(spark)
    loop_root = str(tmp_path / "loop")
    twin_root = str(tmp_path / "twin")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    for i, b in enumerate(batches):
        process(b, i, twin_root)

    arrivals = iter(batches)
    schema = batches[0].schema

    def start_stream():
        next(arrivals).coalesce(1).write.parquet(f"{src}/f{len(os.listdir(src))}")
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        return run_stream(stream, loop_root, ckpt)

    telemetry = run_ingest_cycles(
        spark, loop_root, start_stream, spec, cycles=3, max_epochs=2
    )
    assert [t["compacted"] for t in telemetry] == [False, True, False]
    (output,) = spec.names
    assert store_epoch_count(f"{loop_root}/{output}") == 1  # only e2
    assert _data_dirs(f"{loop_root}/{output}") == [
        "ingest_epoch=c0",
        "ingest_epoch=e2",
    ]

    def snap(root):
        df = read(spark, root)
        return df.schema, sorted(df.collect(), key=repr)

    twin = snap(twin_root)
    assert snap(loop_root) == twin and twin[1]


def test_file_count_trigger_gated_on_new_epochs(spark, tmp_path):
    """r8 thrash guard: `store_file_count` includes the compacted base's
    own files, so once the base alone exceeds max_files an ungated trigger
    would rewrite the whole base every cycle forever with zero new epochs.
    The file-count trigger must fire only while there is at least one
    uncompacted epoch to fold — exactly ONE compaction across the loop."""
    from realtime_spark.streaming.compaction import (
        run_ingest_cycles,
        should_compact,
        store_epoch_count,
        store_file_count,
    )
    from realtime_spark.streaming.ingest import run_ingest_stream, seed_ingest_state

    # direct unit shape first: a compacted store whose base alone is over
    # the threshold, zero epochs -> no fire; one new epoch -> fire
    store = _mini_store(spark, tmp_path, n_epochs=2)
    root, sub = str(tmp_path), os.path.basename(store)
    compact_store(spark, store, lambda df, p: df.write.parquet(p))
    assert store_epoch_count(store) == 0 and store_file_count(store) >= 1
    assert not should_compact(root, [sub], max_epochs=99, max_files=1)
    spark.range(0, 3).toDF("v").write.parquet(f"{store}/ingest_epoch=e99")
    assert should_compact(root, [sub], max_epochs=99, max_files=1)

    # loop shape: one arrival in cycle 0, then two idle drains — with
    # max_files=1 the base always exceeds the threshold, but only the
    # cycle that actually produced an epoch may compact
    b0, _, _ = _doc_batches(spark)
    loop_root = str(tmp_path / "loop")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    seed_ingest_state(_corpus(spark), loop_root)
    arrivals = iter([b0])

    def start_stream():
        nxt = next(arrivals, None)
        if nxt is not None:
            nxt.coalesce(1).write.parquet(f"{src}/f{len(os.listdir(src))}")
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        return run_ingest_stream(stream, loop_root, ckpt)

    telemetry = run_ingest_cycles(
        spark,
        loop_root,
        start_stream,
        INGEST_STORE,
        cycles=3,
        max_epochs=99,
        max_files=1,
    )
    assert [t["compacted"] for t in telemetry] == [True, False, False]


def test_scheduled_loop_vector_store_with_drift_rebuild(spark, tmp_path):
    """r8 ask: drive the scheduled loop over the vector store, with a
    centroid rebuild BETWEEN loop calls (the interesting window — the
    rebuild advances min_epoch through compact_store, and the resumed loop
    must keep its checkpointed epoch ids admissible). Accepted set and
    index membership must match a never-compacted never-rebuilt twin."""
    from realtime_spark.streaming.compaction import run_ingest_cycles
    from realtime_spark.streaming.vector_ingest import (
        process_vector_batch,
        rebuild_vector_index,
        run_vector_ingest_stream,
        searchable_index,
        seed_vector_state,
    )

    e = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    corpus = e.filter(F.col("vec_id") % 2 == 0)
    cents = e.filter(F.col("vec_id") % 50 == 0)
    b0 = e.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 100))
    b1 = e.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") >= 100))
    # post-rebuild batch: novel directions plus re-keyed copies the dedup
    # must reject against the compacted+rebuilt index
    b2 = corpus.select(
        (F.col("vec_id") + 30000).alias("vec_id"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
    ).unionByName(
        b0.select((F.col("vec_id") + 40000).alias("vec_id"), "embedding")
    )
    batches = [b0, b1, b2]

    loop_root = str(tmp_path / "loop")
    twin_root = str(tmp_path / "twin")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    seed_vector_state(corpus, cents, loop_root)
    seed_vector_state(corpus, cents, twin_root)
    for i, b in enumerate(batches):
        process_vector_batch(b, i, twin_root, dedup_threshold=0.999999)

    arrivals = iter(batches)

    def start_stream():
        next(arrivals).coalesce(1).write.parquet(f"{src}/f{len(os.listdir(src))}")
        stream = (
            spark.readStream.schema("vec_id bigint, embedding array<float>")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        return run_vector_ingest_stream(
            stream, loop_root, ckpt, dedup_threshold=0.999999
        )

    t1 = run_ingest_cycles(
        spark, loop_root, start_stream, VECTOR_STORE, cycles=2, max_epochs=2
    )
    assert [t["compacted"] for t in t1] == [False, True]

    # rebuild between loop calls (deterministic: call it directly — the
    # drift trigger path is maintain_vector_index, tested elsewhere)
    manifest = rebuild_vector_index(spark, loop_root)
    assert manifest["centroids"].startswith("centroids_v")

    # the resumed loop's checkpoint continues at epoch 2; the rebuild's
    # compact_store left min_epoch at 2, so the write must be admissible
    t2 = run_ingest_cycles(
        spark, loop_root, start_stream, VECTOR_STORE, cycles=1, max_epochs=2
    )
    assert [t["compacted"] for t in t2] == [False]

    def ids(root, store):
        return sorted(
            r["vec_id"]
            for r in read_store(spark, f"{root}/{store}").select("vec_id").collect()
        )

    assert ids(loop_root, "accepted") == ids(twin_root, "accepted")
    # index membership identical too (centroid assignment differs, rows not)
    loop_idx = sorted(
        r["vec_id"] for r in searchable_index(spark, loop_root).collect()
    )
    twin_idx = sorted(
        r["vec_id"] for r in searchable_index(spark, twin_root).collect()
    )
    assert loop_idx == twin_idx and loop_idx
    acc = set(ids(loop_root, "accepted"))
    assert not any(40000 <= v < 50000 for v in acc), (
        "re-keyed copies must be rejected against the compacted+rebuilt index"
    )


def test_scheduled_loop_search_store(spark, tmp_path):
    """r8 ask: drive the scheduled loop over the search store — the
    stat-partial SUM fold runs under the janitor and BM25 off the looped
    store must stay bit-identical to the never-compacted twin."""
    from realtime_spark.streaming.compaction import run_ingest_cycles
    from realtime_spark.streaming.search_ingest import (
        bm25_topk_from_live_index,
        process_search_batch,
        run_search_ingest_stream,
        seed_search_state,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 40)
    batches = [
        docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 80)),
        docs.filter((F.col("doc_id") >= 80) & (F.col("doc_id") < 120)),
        docs.filter((F.col("doc_id") >= 120) & (F.col("doc_id") < 160)),
    ]

    loop_root = str(tmp_path / "loop")
    twin_root = str(tmp_path / "twin")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    seed_search_state(corpus, loop_root)
    seed_search_state(corpus, twin_root)
    for i, b in enumerate(batches):
        process_search_batch(b, i, twin_root)

    arrivals = iter(batches)

    def start_stream():
        next(arrivals).coalesce(1).write.parquet(f"{src}/f{len(os.listdir(src))}")
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        return run_search_ingest_stream(stream, loop_root, ckpt)

    telemetry = run_ingest_cycles(
        spark, loop_root, start_stream, SEARCH_STORE, cycles=3, max_epochs=2
    )
    assert [t["compacted"] for t in telemetry] == [False, True, False]
    # stat partials: one folded base row plus the post-compaction epoch row
    assert spark.read.parquet(f"{loop_root}/stats/ingest_epoch=c0").count() == 1

    terms = ["data", "model", "the"]

    def snap(root):
        return sorted(
            (r["doc"], r["score"], r["rank"])
            for r in bm25_topk_from_live_index(spark, root, terms, k=25).collect()
        )

    a_snap, b_snap = snap(loop_root), snap(twin_root)
    assert a_snap == b_snap and a_snap


def test_compaction_random_interleavings(spark, tmp_path):
    """Randomized protocol interleavings against a pure-Python visibility
    model: epoch writes, compactions, simulated crash leftovers of every
    protocol step, and GC arrive in seeded-random order; after every
    operation the store's visible rows must equal the model. Catches
    interactions the enumerated crash-window tests cannot (e.g. a stale
    staging dir from gen N surviving into the gen N+1 attempt while a
    post-commit orphan of gen N-1 is still on disk)."""
    import random

    from realtime_spark.streaming.compaction import read_manifest

    rng = random.Random(20260815)

    for scenario in range(5):
        store = str(tmp_path / f"s{scenario}")
        os.makedirs(store)
        model: dict[str, list[int]] = {}  # visible tag -> rows
        next_epoch = 0
        next_row = 0

        def visible_rows():
            return sorted(v for rows in model.values() for v in rows)

        def write_epoch():
            nonlocal next_epoch, next_row
            rows = list(range(next_row, next_row + rng.randint(1, 8)))
            next_row += len(rows)
            tag = f"e{next_epoch}"
            spark.createDataFrame([(v,) for v in rows], "v bigint").write.mode(
                "overwrite"
            ).parquet(f"{store}/ingest_epoch={tag}")
            model[tag] = rows
            next_epoch += 1

        def compact():
            if not model:
                return
            compact_store(spark, store, lambda df, p: df.write.parquet(p))
            folded = visible_rows()
            base = read_manifest(store)["base"]
            model.clear()
            model[base] = folded

        def crash_stage():
            gen = (read_manifest(store) or {"generation": -1})["generation"] + 1
            os.makedirs(f"{store}/_staging_c{gen}/junk", exist_ok=True)

        def crash_reveal():
            # an uncommitted c-dir can only exist once a manifest exists
            # (compact_store installs the pre-manifest before any rename)
            m = read_manifest(store)
            if m is None or not model:
                return
            gen = m["generation"] + 1
            src = f"{store}/ingest_epoch={next(iter(model))}"
            dst = f"{store}/ingest_epoch=c{gen}"
            if not os.path.exists(dst):
                shutil.copytree(src, dst)

        def crash_orphan():
            m = read_manifest(store)
            if m is None:
                return
            k = m["min_epoch"] - 1
            if k < 0:
                return
            spark.createDataFrame([(999999,)], "v bigint").write.mode(
                "overwrite"
            ).parquet(f"{store}/ingest_epoch=e{k}")

        def run_gc():
            gc_store(store)

        write_epoch()  # every scenario starts with data
        ops = [write_epoch, compact, crash_stage, crash_reveal, crash_orphan, run_gc]
        for _ in range(10):
            rng.choice(ops)()
            got = sorted(
                r["v"] for r in read_store(spark, store).select("v").collect()
            )
            assert got == visible_rows(), (
                f"scenario {scenario}: visible rows diverged from model\n"
                f"dirs: {sorted(os.listdir(store))}\n"
                f"manifest: {read_manifest(store)}"
            )
