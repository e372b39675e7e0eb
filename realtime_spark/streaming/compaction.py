"""The store-lifecycle engine of the streaming stores, and their epoch
compaction.

Five ``foreachBatch`` stores each declare their store once, as a
``StoreSpec``: the list of its epochal outputs, each with its one on-disk
layout (partition and sort columns) and, where compaction is not a plain
rewrite, its fold. They are the three ingest stores (ingest.py,
vector_ingest.py, search_ingest.py), the two count monitors
(monitors.py, ``COUNTS``) and the materialized view (materialize_stream.py,
``SNAPSHOT``). The store modules keep only their own logic — the
dedup/LSH, IVF, BM25, count and latest-state epoch bodies and the
live-store readers; this module runs the rest.

The epoch protocol
------------------

Each store writes under one root, ``<root>/<output>/ingest_epoch=<tag>/``:
the seed writes tag ``seed`` in every output (an empty partition where it
has no rows), micro-batch N writes tag ``e{N}``. Only stores whose bodies
read their outputs (the ingest stores) are seeded; a monitor or the view
writes its batch's own rows and starts at ``e0``. ``StoreSpec.epoch`` runs
one write:

    1. the rewind guard (``assert_epoch_admissible``) over every output;
    2. shuffles scoped to the batch size;
    3. reads of the stores WITHOUT the epoch's own partition
       (``Epoch.read``);
    4. epoch-owned overwrites in each output's layout (``Epoch.write``),
       read back with an explicit schema where a later write folds from
       them (``Epoch.write_back``); independent writes run concurrently
       (``in_parallel``).

Exactly-once without markers: every epoch writes its outputs by
OVERWRITING its own ``ingest_epoch=e{N}`` directories. The file-source
checkpoint replays a failed epoch with the same epoch id and the same
input files, the pipeline is deterministic, so a replay rewrites
byte-identical content instead of appending duplicates — for the additive
stores (counts, ``n_versions``) as much as for the deduping ones. The
writes of one epoch are not mutually atomic: a crash between them leaves
a torn epoch (any subset of its directories) until the replay rewrites
them all, and own-epoch exclusion
keeps the replay from reading its own partial output. This is the
``foreachBatch`` contract of the Structured Streaming paper: exactly-once
delivery through deterministic replay into idempotent sinks.
``run_store_stream`` is the one ``foreachBatch`` wiring, and it refuses a
fresh checkpoint over a store that already holds epochs (its ids would
restart at 0 and overwrite or hide them); ``drop_redelivered`` is the
re-delivery guard of the two id-keyed stores.

Compaction
----------

Each store appends one ``ingest_epoch=e{N}`` partition directory per
micro-batch, forever. That is the correct exactly-once write protocol, but
at thousands of epochs file-listing cost, per-epoch stat-fold cost, and
small-file counts all grow linearly — the same run-forever hazard the
reference solves for its message store with partition GC
(/root/reference/lib/realtime/messages.ex:72-102 drops whole day
partitions). This module is the store analog: fold every committed
epoch into one compacted base partition, without ever corrupting a reader
(``StoreSpec.compact`` folds every output of a store, each through its own
layout). ``run_ingest_cycles`` is the run-forever loop for all five
stores: it drains the stream, then runs compaction as a threshold
janitor. The count monitors and the view merge every visible epoch at
read time, so without it their reads slow down with every micro-batch.

Each store keeps its flat hive layout (``<store>/ingest_epoch=<tag>/``);
compaction adds one small JSON *manifest* (``<store>/_compaction.json`` —
the underscore prefix makes Spark's parquet reader ignore it) that names
what is visible:

    {"base": "c3", "min_epoch": 17, "generation": 3}

Visible data = the ``ingest_epoch=c3`` base partition plus every
``ingest_epoch=e{N}`` with N >= 17. No manifest means everything is
visible (the pre-compaction layout, unchanged). ``read_store`` applies
this as a partition-column filter, so pruning still happens at planning
time and orphaned directories are never scanned.

``compact_store`` is stage-then-swap with the manifest replace as the ONE
commit point (the publish.py pointer discipline, operators/publish.py:100):

    1. stage the fold into ``<store>/_staging_c{G}`` (invisible to Spark)
    2. rename it to ``ingest_epoch=c{G}``     (invisible: not in manifest)
    3. atomically replace the manifest        <- the commit
    4. GC the folded base + epoch directories (orphans if we crash first)

A crash before (3) leaves the old manifest pointing at the old data —
re-running compaction cleans the stale staging/c{G} dirs and starts over.
A crash after (3) leaves folded directories behind as orphans that every
manifest-aware reader ignores; the next compaction (or `gc_store`) removes
them. At no point does a reader see doubled or missing rows.

Contract: run compaction while the ingest stream is STOPPED after a clean
drain (the streaming jobs' availableNow mode). A replayed epoch that was
folded mid-flight could otherwise be half-captured. This mirrors how the
reference schedules its partition GC as a periodic job, not inside the
write path. Paths are manipulated with os/shutil — single-filesystem
semantics (local/NFS/fuse); an object-store deployment would swap the two
rename calls for its atomic-commit primitive.

Equivalence guarantee (asserted by tests/test_compaction.py): probe,
search, BM25, count and snapshot results off the store are bit-identical
before and after compaction, and ingest can continue appending epochs
afterwards (the manifest's min_epoch admits every epoch id above the
folded range).
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Iterator, Sequence
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass
from functools import partial
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from realtime_spark.session import (
    plan_input_size_bytes,
    scaled_shuffle_partitions,
    scoped_shuffle_partitions,
)

_MANIFEST = "_compaction.json"


def _manifest_path(store: str) -> str:
    return os.path.join(store, _MANIFEST)


def read_manifest(store: str) -> dict | None:
    try:
        with open(_manifest_path(store)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def _visible_cond(manifest: dict | None) -> Column:
    if manifest is None:
        return F.lit(True)
    epoch_num = F.expr("try_cast(substring(ingest_epoch, 2, 18) AS bigint)")
    return (F.col("ingest_epoch") == manifest["base"]) | (
        F.col("ingest_epoch").startswith("e")
        & (epoch_num >= int(manifest["min_epoch"]))
    )


def read_store(spark: SparkSession, store: str) -> DataFrame:
    """Manifest-aware read of one ingest store: the compacted base plus
    every epoch at or above min_epoch. The predicate is on the partition
    column only — it prunes at planning time and never scans orphans."""
    return spark.read.parquet(store).filter(_visible_cond(read_manifest(store)))


class EpochRewindError(RuntimeError):
    """A micro-batch arrived with an epoch id the store has already used.
    Epoch ids come from the streaming checkpoint, so a restart against a
    FRESH checkpoint (batch ids restart at 0) rewinds them. After a
    compaction folded epochs [0..N] the manifest admits only e{N+1}+, so
    the rewound writes land in partitions the manifest silently hides —
    every read and every dedup anti-join would stop seeing newly accepted
    rows with no error anywhere. Without a compaction they overwrite the
    earlier lineage's epochs (its accepted rows vanish, its counts are
    replaced). Fail loudly at write time instead. The reference's
    replication protocol enforces the same monotonicity by acking a
    monotone ``wal_end`` so a slot can never silently rewind
    (/root/reference/lib/realtime/tenants/replication_connection.ex:349-356).
    Recovery: resume with the original checkpoint directory, or re-seed the
    store root if the checkpoint is genuinely lost."""


def assert_epoch_admissible(epoch_id: int, *stores: str) -> None:
    """Write-time guard for the streaming batch bodies: raise
    ``EpochRewindError`` if any of the batch's target stores has a
    compaction manifest whose ``min_epoch`` exceeds ``epoch_id``. Called
    before any store read so a rewound replay cannot even self-dedup
    against a read set it does not match."""
    for store in stores:
        manifest = read_manifest(store)
        if manifest is not None and int(epoch_id) < int(manifest["min_epoch"]):
            raise EpochRewindError(
                f"epoch {epoch_id} is below min_epoch "
                f"{manifest['min_epoch']} of compacted store {store!r} "
                f"(generation {manifest['generation']}): the write would be "
                "permanently invisible. This happens when an ingest stream "
                "restarts with a fresh checkpoint after a compaction — "
                "resume with the original checkpoint, or re-seed the store."
            )


def _epoch_dirs(store: str) -> list[str]:
    """Data partition directory names present on disk (tags, not paths)."""
    out = []
    for name in sorted(os.listdir(store)):
        if name.startswith("ingest_epoch=") and os.path.isdir(
            os.path.join(store, name)
        ):
            out.append(name.split("=", 1)[1])
    return out


def _visible_tags(store: str, manifest: dict | None) -> list[str]:
    tags = _epoch_dirs(store)
    if manifest is None:
        return tags
    mn = int(manifest["min_epoch"])
    keep = []
    for t in tags:
        if t == manifest["base"]:
            keep.append(t)
        elif t.startswith("e"):
            try:
                if int(t[1:]) >= mn:
                    keep.append(t)
            except ValueError:
                pass
    return keep


def holds_only_base(store: str) -> bool:
    """True when a store shows exactly its compacted base: no epoch was
    written since the last compaction, so a read returns the fold alone."""
    manifest = read_manifest(store)
    return manifest is not None and _visible_tags(store, manifest) == [manifest["base"]]


def gc_store(store: str) -> list[str]:
    """Remove stale staging directories and orphaned data directories that
    the manifest does not admit (crash leftovers). Safe to run any time the
    ingest stream is stopped; no-op without a manifest."""
    removed = []
    for name in sorted(os.listdir(store)):
        if name.startswith("_staging_c"):
            shutil.rmtree(os.path.join(store, name), ignore_errors=True)
            removed.append(name)
    manifest = read_manifest(store)
    if manifest is None:
        return removed
    visible = set(_visible_tags(store, manifest))
    for t in _epoch_dirs(store):
        if t not in visible:
            shutil.rmtree(os.path.join(store, f"ingest_epoch={t}"))
            removed.append(f"ingest_epoch={t}")
    return removed


_RESERVED_KEYS = ("base", "min_epoch", "generation", "folded")


def compact_store(
    spark: SparkSession,
    store: str,
    write_fold: Callable[[DataFrame, str], None],
    extra_manifest: dict | None = None,
) -> dict:
    """Fold every visible partition of one store into a single compacted
    base. ``write_fold(df, path)`` materializes the folded frame at `path`
    in the store's own layout (sub-partitioning, sorting, stat summing).
    Returns the new manifest. Crash-safe per the module protocol; requires
    the ingest stream writing this store to be stopped.

    ``extra_manifest`` entries are merged into the committed manifest;
    non-reserved keys already present (e.g. the vector store's published
    ``centroids`` pointer) carry forward unless overridden, so a plain
    compaction never un-publishes a rebuild."""
    manifest = read_manifest(store)
    if manifest is None:
        # install an explicit everything-visible manifest BEFORE any
        # directory appears under a c-name: without it, a gen-0 crash
        # between the rename and the commit would leave ingest_epoch=c0
        # visible to manifest-less readers (doubled rows). The stores
        # only ever write the tags 'seed' and 'e{N}', so
        # {base: seed, min_epoch: 0} is byte-equivalent to no manifest.
        manifest = {"base": "seed", "min_epoch": 0, "generation": -1}
        tmp0 = _manifest_path(store) + ".tmp"
        with open(tmp0, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp0, _manifest_path(store))
    gen = int(manifest["generation"]) + 1
    tags = _visible_tags(store, manifest)
    if not tags:
        raise ValueError(f"nothing to compact under {store!r}")
    max_epoch = max(
        (int(t[1:]) for t in tags if t.startswith("e") and t[1:].isdigit()),
        default=int(manifest["min_epoch"]) - 1,
    )

    # (1) stage: fold exactly the pinned visible set (a concurrent write of
    # a NEWER epoch would not be folded, but the contract is stream-stopped)
    gc_store(store)  # clear stale staging from a previous crash
    staging = os.path.join(store, f"_staging_c{gen}")
    visible = spark.read.parquet(store).filter(
        F.col("ingest_epoch").isin(tags)
    ).drop("ingest_epoch")
    write_fold(visible, staging)

    # (2) reveal the directory under its real name — still invisible to
    # manifest-aware readers (the manifest does not name it yet)
    final = os.path.join(store, f"ingest_epoch=c{gen}")
    if os.path.exists(final):  # crash leftover from an uncommitted attempt
        shutil.rmtree(final)
    os.rename(staging, final)

    # (3) commit: one atomic manifest replace (publish.py:100 discipline)
    new_manifest = {
        **{k: v for k, v in manifest.items() if k not in _RESERVED_KEYS},
        "base": f"c{gen}",
        "min_epoch": max_epoch + 1,
        "generation": gen,
        "folded": tags,
        **(extra_manifest or {}),
    }
    tmp = _manifest_path(store) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(new_manifest, fh)
    os.replace(tmp, _manifest_path(store))

    # (4) GC the folded directories — crash here only leaves ignored orphans
    gc_store(store)
    return new_manifest


# ---------------------------------------------------------------------------
# the store-lifecycle engine: one spec per store, one engine for all five
# ---------------------------------------------------------------------------


def in_parallel(*work: Callable[[], object]) -> list:
    """Run independent store writes concurrently; returns their results in
    order and re-raises the first failure (r11, guide section 2.6): at
    increment scale each write is a tiny multi-stage job that leaves the
    cluster mostly idle, so the others back-fill its tail."""
    with ThreadPoolExecutor(max_workers=len(work)) as pool:
        futs = [pool.submit(w) for w in work]
        return [f.result() for f in futs]


@dataclass(frozen=True)
class Output:
    """One epochal output of a store, ``<root>/<name>/ingest_epoch=<tag>/``,
    and its ONE on-disk layout: the seed, every epoch and the compaction
    fold all write through ``write``. ``partition`` sub-partitions each
    epoch directory (the probes prune on it), ``sort`` orders the rows in
    each file, and ``fold`` reshapes the visible rows before the compacted
    rewrite — set only where the fold is not a plain rewrite."""

    name: str
    partition: str | None = None
    sort: tuple[str, ...] = ()
    fold: Callable[[DataFrame], DataFrame] | None = None

    def write(self, df: DataFrame, path: str) -> None:
        if self.partition is None:
            df.write.mode("overwrite").parquet(path)
            return
        # cluster by the partition column before the partitioned write (guide
        # section 6): without it every scan task opens a file in every
        # partition directory — ~tasks x |values| tiny files per epoch, paid
        # again by every later store read; one hash exchange buys one file
        # per value
        df = df.repartition(self.partition)
        if self.sort:
            df = df.sortWithinPartitions(*self.sort)
        df.write.mode("overwrite").partitionBy(self.partition).parquet(path)

    def compact(self, spark: SparkSession, root: str) -> dict:
        fold = self.fold or (lambda df: df)
        return compact_store(
            spark, f"{root}/{self.name}", lambda df, path: self.write(fold(df), path)
        )


@dataclass(frozen=True)
class StoreSpec:
    """One streaming store: its epochal outputs, declared once. The
    rewind guard, the seed and epoch writes, compaction and the scheduled
    loop all run off this list."""

    outputs: tuple[Output, ...]

    @property
    def names(self) -> list[str]:
        return [o.name for o in self.outputs]

    def __getitem__(self, name: str) -> Output:
        return {o.name: o for o in self.outputs}[name]

    @contextmanager
    def epoch(
        self, batch: DataFrame, epoch_id: int | None, root: str
    ) -> Iterator[Epoch]:
        """One write of the store under the epoch protocol (module
        docstring): the seed (``epoch_id=None``, tag ``seed``) or micro-batch
        ``epoch_id`` (tag ``e{N}``). ``batch`` sizes the shuffles. The
        write must leave a partition for the tag in EVERY output — the seed
        writes an empty one where it has no rows, so a fresh root reads and
        compacts like any other."""
        if epoch_id is not None:
            # fresh-checkpoint rewind against a compacted store: fail loudly
            # before writing a partition the manifest would silently hide
            assert_epoch_admissible(epoch_id, *(f"{root}/{n}" for n in self.names))
        spark = batch.sparkSession
        ep = Epoch(self, spark, root, "seed" if epoch_id is None else f"e{epoch_id}")
        # size the epoch's shuffles to the BATCH, not the cluster (r11, guide
        # section 2.6): every exchange carries increment-sized data, and
        # cpus-many 100-row tasks + shuffle files per job were the dominant
        # fixed cost at bench SF (measured -26% per epoch at 4 vs 32
        # partitions). Deterministic in batch content, so replays re-write
        # identical file layouts; a cluster-scale batch (or the seed's
        # corpus) crosses the clamp and keeps full parallelism.
        with scoped_shuffle_partitions(
            spark, scaled_shuffle_partitions(spark, plan_input_size_bytes(batch))
        ):
            yield ep
        missing = [n for n in self.names if not os.path.isdir(ep.path(n))]
        if missing:
            raise RuntimeError(f"{root!r} epoch {ep.tag} wrote no {missing}")

    def compact(self, spark: SparkSession, root: str) -> dict:
        """Compact every output CONCURRENTLY (r11, guide section 2.6): each
        fold is an independent stage-then-swap on its own directory, and at
        increment scale each is a tiny job that leaves the cluster idle —
        overlapping them back-fills the tails. Shuffles inside the folds are
        sized to the visible store bytes (scale-neutral: a corpus-sized
        store crosses the clamp and keeps every core). Returns the new
        manifest of each output by name."""
        n = scaled_shuffle_partitions(spark, _store_bytes(root, self.names))
        with scoped_shuffle_partitions(spark, n):
            manifests = in_parallel(
                *(partial(o.compact, spark, root) for o in self.outputs)
            )
        return dict(zip(self.names, manifests))


@dataclass(frozen=True)
class Epoch:
    """The handle a store's seed or epoch body reads and writes through."""

    spec: StoreSpec
    spark: SparkSession
    root: str
    tag: str

    def path(self, name: str) -> str:
        return f"{self.root}/{name}/ingest_epoch={self.tag}"

    def read(self, name: str) -> DataFrame:
        """One store as this epoch must see it: every visible partition
        EXCEPT the epoch's own. A crash between an epoch's writes leaves a
        partial ``ingest_epoch=e{N}`` behind, and a replay that read it
        would dedup the batch against its own half-written output (kept
        would collapse toward empty). Later epochs cannot exist at replay
        time, so own-epoch exclusion restores exactly the pre-crash read
        set; the filter is on the partition column and prunes, never
        scans."""
        return read_store(self.spark, f"{self.root}/{name}").filter(
            F.col("ingest_epoch") != self.tag
        )

    def write(self, name: str, df: DataFrame) -> None:
        """Overwrite this epoch's partition of one output, in the output's
        layout — a replay rewrites identical bytes."""
        self.spec[name].write(df, self.path(name))

    def write_back(self, name: str, df: DataFrame) -> DataFrame:
        """``write``, then the just-written rows read back — byte-identical
        input on replay for the writes that fold from them. The schema is
        explicit: a fully-deduped batch writes an EMPTY directory, which
        schema inference cannot read (the micro-batch would throw and
        every checkpoint replay re-throw)."""
        self.write(name, df)
        return self.spark.read.schema(df.schema).parquet(self.path(name))


def drop_redelivered(
    batch: DataFrame, seen_ids: DataFrame, id_col: str, content_col: str
) -> DataFrame:
    """The re-delivery guard of the id-keyed stores (vector, search). A
    re-delivered id (seeding overlap, re-seeded source) must not be stored
    twice: reject ids a *prior* epoch stored (``seen_ids`` comes through
    ``Epoch.read``, so own-epoch rows are excluded and a crash-replay stays
    idempotent). WITHIN-batch re-delivery (two rows sharing an id in one
    micro-batch) passes that anti-join with every copy — the same hazard
    class. Keep one per id, picked by smallest content hash: a pure
    function of content, so a crash-replay rewrites byte-identical output
    (which dropDuplicates' arbitrary pick would not guarantee)."""
    fresh = batch.join(seen_ids, id_col, "left_anti")
    w = Window.partitionBy(id_col).orderBy(F.xxhash64(content_col))
    return (
        fresh.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _holds_epochs(store: str) -> bool:
    manifest = read_manifest(store)
    return store_epoch_count(store) > 0 or (
        manifest is not None and int(manifest["min_epoch"]) > 0
    )


def run_store_stream(
    spec: StoreSpec,
    stream: DataFrame,
    checkpoint: str,
    process: Callable[..., None],
    root: str,
    **opts,
):
    """Wire a store's micro-batch body onto a streaming source as one
    availableNow drain; returns the started StreamingQuery. foreachBatch
    calls ``process(batch_df, epoch_id, root, **opts)`` with the
    checkpoint's epoch id — the unit a replay re-executes. Only a store
    whose body reads its outputs must be seeded first.

    A FRESH checkpoint (no ``{checkpoint}/metadata`` before the start)
    over a store that already holds ``e*`` epochs, or a manifest with
    ``min_epoch > 0``, restarts the epoch ids at 0: its batches would
    overwrite the earlier lineage's epochs or land below the manifest.
    Its first batch raises ``EpochRewindError`` instead, which surfaces
    through ``awaitTermination``."""
    fresh = not os.path.exists(os.path.join(checkpoint, "metadata"))
    rewound = fresh and any(_holds_epochs(f"{root}/{n}") for n in spec.names)

    def body(batch_df: DataFrame, epoch_id: int) -> None:
        if rewound:
            raise EpochRewindError(
                f"fresh checkpoint {checkpoint!r} over store {root!r}, which "
                "already holds epochs of another checkpoint: its epoch ids "
                "restart at 0 and would overwrite or hide them — resume with "
                "the original checkpoint, or re-seed the store."
            )
        process(batch_df, epoch_id, root, **opts)

    return (
        stream.writeStream.foreachBatch(body)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _store_bytes(root: str, subs: Sequence[str]) -> int:
    total = 0
    for sub in subs:
        for dirpath, _, files in os.walk(os.path.join(root, sub)):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    pass
    return total

# ---------------------------------------------------------------------------
# scheduled compaction: the run-forever policy
# ---------------------------------------------------------------------------


def store_epoch_count(store: str) -> int:
    """Uncompacted ``ingest_epoch=e{N}`` directories currently on disk.
    After a compaction + GC only epochs above min_epoch remain, so this is
    the growth since the last fold."""
    if not os.path.isdir(store):
        return 0
    return sum(1 for t in _epoch_dirs(store) if t.startswith("e"))


def store_file_count(store: str) -> int:
    """Data files under one store (the small-file pressure metric)."""
    n = 0
    for _, _, files in os.walk(store):
        n += sum(1 for f in files if not f.startswith((".", "_")))
    return n


def should_compact(
    root: str,
    substores: Sequence[str],
    max_epochs: int = 32,
    max_files: int | None = None,
) -> bool:
    """Threshold trigger for the scheduled policy: fire when any substore
    has accumulated ``max_epochs`` uncompacted epoch directories, or (if
    set) when any substore's data-file count reaches ``max_files``. Both
    are pure directory listings — no Spark job.

    The file-count trigger only fires while there is at least one
    uncompacted epoch to fold: ``store_file_count`` includes the compacted
    base's own files, so once the base alone exceeds ``max_files`` an
    ungated trigger would rewrite the whole base every cycle forever with
    zero new epochs — a full-store rewrite per drain at scale (r8 ADVICE).
    Compacting with zero epochs can never shrink the count below the
    threshold, so the gate loses nothing."""
    for sub in substores:
        store = os.path.join(root, sub)
        epochs = store_epoch_count(store)
        if epochs >= max_epochs:
            return True
        if (
            max_files is not None
            and epochs > 0
            and store_file_count(store) >= max_files
        ):
            return True
    return False


_DRAIN_TIMEOUT_SEC = 600


def run_ingest_cycles(
    spark: SparkSession,
    root: str,
    start_stream: Callable[[], object],
    spec: StoreSpec,
    cycles: int,
    max_epochs: int = 32,
    max_files: int | None = None,
) -> list[dict]:
    """The run-forever loop of any of the five stores (``spec`` names the
    store: the three ingest stores, ``COUNTS`` or ``SNAPSHOT``) with
    compaction as a scheduled janitor, mirroring how the reference
    schedules its message-partition GC as a periodic job outside the write
    path (reference: lib/realtime/messages.ex:72-102): each cycle runs
    ONE availableNow drain of the store's stream (``start_stream`` re-opens
    the source and returns the started StreamingQuery — an availableNow
    query terminates, and the checkpoint carries the offsets), then, with
    the stream provably stopped (the compaction contract), compacts every
    output of ``spec`` when the threshold trips. Returns per-cycle
    telemetry: [{cycle, compacted, epochs_before, files_before,
    files_after}]."""
    substores = spec.names
    out: list[dict] = []
    for cycle in range(cycles):
        q = start_stream()
        # the compaction contract requires the stream STOPPED: a timed-out
        # drain must abort the cycle, not compact under a live writer
        # (a concurrently-written epoch would be half-captured by the fold)
        if not q.awaitTermination(_DRAIN_TIMEOUT_SEC):
            q.stop()
            raise TimeoutError(
                f"ingest cycle {cycle} did not drain within "
                f"{_DRAIN_TIMEOUT_SEC}s — compaction skipped (stream-stopped "
                "contract)"
            )
        epochs = max((store_epoch_count(os.path.join(root, s)) for s in substores), default=0)
        files = sum(store_file_count(os.path.join(root, s)) for s in substores)
        fire = should_compact(root, substores, max_epochs, max_files)
        if fire:
            spec.compact(spark, root)
        out.append(
            {
                "cycle": cycle,
                "compacted": fire,
                "epochs_before": epochs,
                "files_before": files,
                "files_after": sum(
                    store_file_count(os.path.join(root, s)) for s in substores
                ),
            }
        )
    return out
