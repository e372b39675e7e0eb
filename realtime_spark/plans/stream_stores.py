"""Matrix-level oracle queries over the STREAMING ingest stores.

The streaming trio's batch-equivalence was pytest-asserted (r5); these
queries put the stores themselves under the driver's CORRECTNESS gate: each
one seeds a store from deterministic slices of the warehouse tables, folds
several ingest epochs through the real foreachBatch bodies (the exact unit
the stream executes and replays — stream == sequential fold is proven by
tests/test_streaming_*.py), runs an EPOCH COMPACTION mid-sequence, ingests
more epochs into the compacted store, and returns the final read off the
live store. The DuckDB oracle computes the same answer from the raw tables:

- stream_ingest_accepted: the corpus-ingest dedup fold (digest anti-join +
  LSH index probe, epoch-ordered) as an unrolled 3-epoch CTE over the same
  MinHash SQL machinery the dedup_minhash_lsh oracle proved engine-exact.
- stream_ivf_topk: vector ingest accepts the whole embeddings table across
  epochs (one epoch is a full re-delivery that the seen-id anti-join must
  reject), so search off the live store must equal the ORACLE_ANN_IVF_TOPK
  batch answer over all embeddings.
- stream_bm25_topk: search ingest indexes the whole documents table across
  epochs; folded-partial BM25 off the live store must hash-match the batch
  ORACLE_SEARCH_BM25.

Every query exercises compaction + post-compaction epochs on the hot path,
so the driver gate now covers the stores' full lifecycle, not just their
first write.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_spark.sources.testdata import load_table
from realtime_spark.streaming.compaction import StoreSpec, run_ingest_cycles
from realtime_spark.plans.training import (
    NEAR_DUP_TAIL,
    ORACLE_ANN_IVF_TOPK,
    ORACLE_SEARCH_BM25,
    SQL_TOKS,
    _ANN_K,
    _ANN_QUERY_PRED,
    _BM25_TERMS,
    _BM25_K,
    _IVF_CENT_PRED,
    _IVF_NPROBE,
    _SQL_BANDED_CTES,
)


def _fresh_root(sf_dir: str, name: str) -> str:
    """Per-(corpus, query) scratch root; wiped first so a re-run in the same
    process never sees a previously compacted manifest."""
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    root = f"/tmp/realtime_spark_stream_{name}_{sf_tag}_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    return root


def _drain_loop(
    spark: SparkSession,
    root: str,
    name: str,
    schema: str,
    arrivals: list[DataFrame],
    run_stream: Callable,
    spec: StoreSpec,
    want: list[bool],
) -> None:
    """Drive a seeded store through ``run_ingest_cycles``: before each
    availableNow drain cycle one arrival lands in a file source, and
    compaction is the threshold janitor BETWEEN cycles (max_epochs=2: the
    trigger fires after every second drain). Raises unless the trigger
    fired exactly on the cycles ``want`` marks."""
    import tempfile

    src = tempfile.mkdtemp(prefix=f"rs_{name}_src_")
    ckpt = f"{root}/_ckpt"
    batches = iter(arrivals)

    def start_stream():
        # parallel write (r10): one drain cycle = ALL new files in one
        # availableNow batch, so multi-file epochs batch identically while
        # the scan map side keeps cluster parallelism (a coalesce(1)
        # source serialized every epoch's tokenize/probe onto one core)
        next(batches).write.parquet(f"{src}/f{len(os.listdir(src))}")
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        return run_stream(stream, root, ckpt)

    try:
        telemetry = run_ingest_cycles(
            spark, root, start_stream, spec, cycles=len(arrivals), max_epochs=2
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
    if [t["compacted"] for t in telemetry] != want:
        raise AssertionError(f"compaction trigger misfired: {telemetry}")


# ---------------------------------------------------------------------------
# corpus ingest: epoch-ordered dedup fold
# ---------------------------------------------------------------------------


def _ingest_arrivals(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[DataFrame]]:
    """The standing corpus and the three ingest epochs (_STREAM_SRC_CTE
    is their oracle twin) with engineered fates: exact dups of the corpus
    and of earlier-epoch docs (digest store must grow), near-dup tails of
    corpus and earlier-epoch docs (LSH index must grow), natural
    cross-slice text duplicates from the warehouse itself, and genuinely
    fresh reversed-token docs."""
    from realtime_spark.operators.dedup import tokens_expr

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def shifted(cond: str, by: int, text=F.col("text")) -> DataFrame:
        return d.filter(cond).select(
            (F.col("doc_id") + by).alias("doc_id"), text.alias("text")
        )

    tail = F.concat("text", F.lit(NEAR_DUP_TAIL))
    e0 = d.filter("doc_id % 3 = 1").unionByName(shifted("doc_id % 9 = 0", 1000000))
    e1 = (
        d.filter("doc_id % 3 = 2")
        .unionByName(shifted("doc_id % 3 = 1 AND doc_id % 7 = 0", 2000000))
        .unionByName(shifted("doc_id % 9 = 3", 3000000, tail))
    )
    e2 = shifted("doc_id % 3 = 1 AND doc_id % 5 = 0", 4000000, tail).unionByName(
        shifted(
            "doc_id % 9 = 6",
            5000000,
            F.array_join(F.reverse(tokens_expr(F.col("text"))), " "),
        )
    )
    return d.filter("doc_id % 3 = 0"), [e0, e1, e2]


def q_stream_ingest_accepted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ingest over the three epochs of ``_ingest_arrivals``. Epochs
    0-1 land pre-compaction, epoch 2 lands in the COMPACTED store."""
    from realtime_spark.streaming.ingest import (
        INGEST_STORE,
        accepted_docs,
        process_ingest_batch,
        seed_ingest_state,
    )

    corpus, (e0, e1, e2) = _ingest_arrivals(spark, sf_dir)
    root = _fresh_root(sf_dir, "ingest")
    seed_ingest_state(corpus, root)
    process_ingest_batch(e0, 0, root)
    process_ingest_batch(e1, 1, root)
    INGEST_STORE.compact(spark, root)
    process_ingest_batch(e2, 2, root)
    return accepted_docs(spark, root).select(
        "doc_id", F.md5("text").alias("digest")
    )


_STREAM_SRC_CTE = f"""
src AS (
  SELECT doc_id, text, -1 AS epoch FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id, text, 0 FROM documents WHERE doc_id % 3 = 1
  UNION ALL
  SELECT doc_id + 1000000, text, 0 FROM documents WHERE doc_id % 9 = 0
  UNION ALL
  SELECT doc_id, text, 1 FROM documents WHERE doc_id % 3 = 2
  UNION ALL
  SELECT doc_id + 2000000, text, 1 FROM documents
  WHERE doc_id % 3 = 1 AND doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 3000000, text || '{NEAR_DUP_TAIL}', 1 FROM documents
  WHERE doc_id % 9 = 3
  UNION ALL
  SELECT doc_id + 4000000, text || '{NEAR_DUP_TAIL}', 2 FROM documents
  WHERE doc_id % 3 = 1 AND doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 5000000,
         array_to_string(list_reverse({SQL_TOKS}), ' '), 2 FROM documents
  WHERE doc_id % 9 = 6
)
"""

# the shared banded-MinHash machinery tokenizes a `_docs_dup` source —
# rebind it to the epoch-labelled src set
_STREAM_BANDED = _SQL_BANDED_CTES.strip().replace("FROM _docs_dup", "FROM src")


def _acc_cte(n: int) -> str:
    """One epoch of the ingest fold: digest not already in the index, min
    doc_id per digest within the epoch (dedup_incremental), and no banded
    (band, key) collision with any indexed doc (lsh_candidates_against_
    index). Conditions AND-compose exactly like the pipeline because a
    row failing an earlier stage cannot be resurrected by a later one."""
    return f"""
acc{n} AS (
  SELECT d.doc_id, d.digest FROM dig d
  WHERE d.epoch = {n}
    AND NOT EXISTS (SELECT 1 FROM idx{n} i WHERE i.digest = d.digest)
    AND d.doc_id = (SELECT min(x.doc_id) FROM dig x
                    WHERE x.epoch = {n} AND x.digest = d.digest)
    AND NOT EXISTS (
      SELECT 1 FROM banded nb JOIN banded ib
        ON nb.band = ib.band AND nb.key = ib.key
      WHERE nb.doc = d.doc_id
        AND ib.doc IN (SELECT doc_id FROM idx{n}))
)"""


ORACLE_STREAM_INGEST_ACCEPTED = f"""
WITH {_STREAM_SRC_CTE.strip()},
{_STREAM_BANDED},
dig AS (SELECT doc_id, epoch, md5(text) AS digest FROM src),
idx0 AS (SELECT doc_id, digest FROM dig WHERE epoch = -1),
{_acc_cte(0).strip()},
idx1 AS (SELECT * FROM idx0 UNION ALL SELECT * FROM acc0),
{_acc_cte(1).strip()},
idx2 AS (SELECT * FROM idx1 UNION ALL SELECT * FROM acc1),
{_acc_cte(2).strip()}
SELECT doc_id, digest FROM acc0
UNION ALL SELECT doc_id, digest FROM acc1
UNION ALL SELECT doc_id, digest FROM acc2
"""


def q_stream_compaction_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-7 scheduled-compaction policy under the driver gate: the
    SAME three-epoch arrival sequence as q_stream_ingest_accepted, but
    driven through ``run_ingest_cycles`` — real availableNow drain cycles
    off a file source with compaction as a threshold janitor BETWEEN
    cycles (max_epochs=2: the trigger fires after the second drain, so
    epoch 2 lands in the auto-compacted store). The accepted set must
    equal the manually-sequenced twin's, i.e. the identical oracle."""
    from realtime_spark.streaming.ingest import (
        INGEST_STORE,
        accepted_docs,
        run_ingest_stream,
        seed_ingest_state,
    )

    corpus, arrivals = _ingest_arrivals(spark, sf_dir)
    root = _fresh_root(sf_dir, "loop")
    seed_ingest_state(corpus, root)
    _drain_loop(
        spark, root, "loop", "doc_id bigint, text string", arrivals,
        run_ingest_stream, INGEST_STORE, want=[False, True, False],
    )
    return accepted_docs(spark, root).select(
        "doc_id", F.md5("text").alias("digest")
    )


# ---------------------------------------------------------------------------
# vector ingest: live-store IVF search == batch answer over the union
# ---------------------------------------------------------------------------


def _vector_arrivals(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, list[DataFrame]]:
    """(embeddings, centroids, standing corpus, the four epochs): three
    quarters that jointly cover the table, then a FULL RE-DELIVERY of the
    first under its ORIGINAL ids, every row of which the id anti-join must
    reject against the (compacted) index."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    parts = [e.filter(f"vec_id % 4 = {i}") for i in (1, 2, 3)]
    return (
        e, e.filter(F.expr(_IVF_CENT_PRED)), e.filter("vec_id % 4 = 0"),
        parts + parts[:1],
    )


def _ivf_answer(spark: SparkSession, e: DataFrame, cents: DataFrame, root: str):
    from realtime_spark.operators.similarity import ivf_topk_from_index
    from realtime_spark.streaming.vector_ingest import searchable_index

    queries = e.filter(F.expr(_ANN_QUERY_PRED))
    return ivf_topk_from_index(
        searchable_index(spark, root), queries, cents, k=_ANN_K, nprobe=_IVF_NPROBE
    )


def q_stream_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector ingest across the ``_vector_arrivals`` epochs; compaction
    lands mid-sequence. The final top-k off the live store must equal the
    batch IVF answer over all embeddings (ORACLE_ANN_IVF_TOPK verbatim)."""
    from realtime_spark.streaming.vector_ingest import (
        VECTOR_STORE,
        process_vector_batch,
        seed_vector_state,
    )

    e, cents, corpus, arrivals = _vector_arrivals(spark, sf_dir)
    root = _fresh_root(sf_dir, "ivf")
    seed_vector_state(corpus, cents, root)
    process_vector_batch(arrivals[0], 0, root)
    process_vector_batch(arrivals[1], 1, root)
    VECTOR_STORE.compact(spark, root)
    process_vector_batch(arrivals[2], 2, root)
    process_vector_batch(arrivals[3], 3, root)  # the full re-delivery
    return _ivf_answer(spark, e, cents, root)


def q_stream_vector_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8: the scheduled-compaction poll loop driving the VECTOR store
    under the driver gate — the q_stream_ivf_topk arrival sequence (three
    covering epochs plus a full re-delivery every id of which the
    anti-join must reject) as real availableNow drain cycles off a file
    source, with vector-store compaction as the threshold janitor
    (max_epochs=2: fires after the second drain, epochs 2-3 land in the
    auto-compacted store). Search off the live store must equal the batch
    IVF answer over all embeddings — the identical oracle."""
    from realtime_spark.streaming.vector_ingest import (
        VECTOR_STORE,
        run_vector_ingest_stream,
        seed_vector_state,
    )

    e, cents, corpus, arrivals = _vector_arrivals(spark, sf_dir)
    root = _fresh_root(sf_dir, "vecloop")
    seed_vector_state(corpus, cents, root)
    _drain_loop(
        spark, root, "vecloop", "vec_id bigint, embedding array<float>",
        arrivals, run_vector_ingest_stream, VECTOR_STORE,
        want=[False, True, False, True],
    )
    return _ivf_answer(spark, e, cents, root)


# ---------------------------------------------------------------------------
# search ingest: folded-partial BM25 == batch answer over the union
# ---------------------------------------------------------------------------


def _search_quarters(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return [d.filter(f"doc_id % 4 = {i}") for i in range(4)]


def q_stream_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search ingest across epochs that jointly index the whole documents
    table, compaction mid-sequence (stat partials summed into one base
    row), one epoch landing after it. BM25 served off the live store must
    hash-match the batch ORACLE_SEARCH_BM25 over all documents."""
    from realtime_spark.streaming.search_ingest import (
        SEARCH_STORE,
        bm25_topk_from_live_index,
        process_search_batch,
        seed_search_state,
    )

    q = _search_quarters(spark, sf_dir)
    root = _fresh_root(sf_dir, "bm25")
    seed_search_state(q[0], root)
    process_search_batch(q[1], 0, root)
    process_search_batch(q[2], 1, root)
    SEARCH_STORE.compact(spark, root)
    process_search_batch(q[3], 2, root)
    return bm25_topk_from_live_index(spark, root, list(_BM25_TERMS), k=_BM25_K)


def q_stream_search_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r9: the scheduled-compaction poll loop driving the SEARCH store —
    the last store whose loop was pytest-only, and the one with the
    documented torn-epoch window (streaming/search_ingest.py: the three
    per-epoch writes — postings, doclen, stats — are not mutually
    atomic), so the janitor firing BETWEEN drain cycles against those
    tri-part epochs is its most interesting window (r8 verdict ask #6).

    The q_stream_bm25_topk arrival sequence (three quarters that jointly
    index the whole documents table) plus a FULL RE-DELIVERY of the first
    quarter — every id of which the doclen anti-join must reject, or the
    duplicated doclen rows fan out the score join and the summed stat
    partials skew every BM25 score — as real availableNow drain cycles off
    a file source, with search-store compaction as the threshold janitor
    (max_epochs=2: fires after the second and fourth drains, so epochs 2-3
    land in a compacted store whose stat partials were already folded into
    one base row). BM25 off the live store must hash-match the batch
    ORACLE_SEARCH_BM25 over all documents — the identical oracle."""
    from realtime_spark.streaming.search_ingest import (
        SEARCH_STORE,
        bm25_topk_from_live_index,
        run_search_ingest_stream,
        seed_search_state,
    )

    q = _search_quarters(spark, sf_dir)
    root = _fresh_root(sf_dir, "searchloop")
    seed_search_state(q[0], root)
    _drain_loop(
        spark, root, "searchloop", "doc_id bigint, text string",
        [q[1], q[2], q[3], q[1]],  # the last: full re-delivery, original ids
        run_search_ingest_stream, SEARCH_STORE,
        want=[False, True, False, True],
    )
    return bm25_topk_from_live_index(spark, root, list(_BM25_TERMS), k=_BM25_K)


def stream_stores_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "stream_ingest_accepted": q_stream_ingest_accepted,
        "stream_compaction_loop": q_stream_compaction_loop,
        "stream_ivf_topk": q_stream_ivf_topk,
        "stream_vector_loop": q_stream_vector_loop,
        "stream_bm25_topk": q_stream_bm25_topk,
        "stream_search_loop": q_stream_search_loop,
    }


def stream_stores_oracles() -> dict[str, str]:
    return {
        "stream_ingest_accepted": ORACLE_STREAM_INGEST_ACCEPTED,
        # the loop runs the identical arrival sequence through the
        # scheduled-compaction poll loop — the accepted set is the same
        "stream_compaction_loop": ORACLE_STREAM_INGEST_ACCEPTED,
        "stream_ivf_topk": ORACLE_ANN_IVF_TOPK,
        # the loop runs the identical arrival sequence (epochs + full
        # re-delivery) through the poll loop — same batch IVF answer
        "stream_vector_loop": ORACLE_ANN_IVF_TOPK,
        "stream_bm25_topk": ORACLE_SEARCH_BM25,
        # the loop runs the bm25 arrival sequence (quarters + full
        # re-delivery) through the poll loop — same batch BM25 answer
        "stream_search_loop": ORACLE_SEARCH_BM25,
    }
