"""Adaptive micro-batch cadence (ST1): the reference poller's busy/backlog/
idle backoff as a driver-side trigger controller over one-shot availableNow
runs.

Reference semantics (lib/extensions/postgres_cdc_rls/replication_poller.ex
:174-192):

    processed_count > 0     -> poll again IMMEDIATELY (drain the burst)
    slot_changes_count > 0  -> poll at poll_interval_ms + jitter(50..100)
                               (the slot has changes but none were delivered
                                this cycle — filtered/shed/clamped)
    otherwise (idle)        -> poll at poll_interval_ms * 5

Structured Streaming's fixed ProcessingTime trigger can't express this, so
the controller owns the loop: each cycle runs ONE availableNow pass of the
real streaming pipeline (checkpointed — offsets advance exactly as a
long-running query's would), reads the batch's processed/slot counts, and
sleeps what the policy dictates. Jitter is a deterministic LCG over the
reference's 50..100 ms range — same distribution envelope, reproducible
tests (the reference uses Enum.random; declared deviation).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame

from realtime_spark.operators.cdc import match_changes

JITTER_MS = (50, 100)  # the reference's Enum.random(50..100)


class AdaptiveCadence:
    """The backoff policy alone — pure, testable, engine-free."""

    def __init__(
        self,
        poll_interval_ms: int = 100,
        idle_multiplier: int = 5,
        seed: int = 1,
    ):
        self.poll_interval_ms = poll_interval_ms
        self.idle_multiplier = idle_multiplier
        # Park-Miller needs a state in [1, 2^31-2]: a zero (seed=0 or a
        # multiple of the modulus) would be a fixed point and collapse the
        # jitter to a constant — the synchronized-poll herd it exists to
        # break up
        self._state = (seed % 0x7FFFFFFE) + 1

    def _jitter(self) -> int:
        # Park-Miller LCG: deterministic stand-in for Enum.random(50..100)
        self._state = (self._state * 48271) % 0x7FFFFFFF
        lo, hi = JITTER_MS
        return lo + self._state % (hi - lo + 1)

    def next_delay_ms(self, processed_count: int, slot_changes_count: int) -> int:
        if processed_count > 0:
            return 0
        if slot_changes_count > 0:
            return self.poll_interval_ms + self._jitter()
        return self.poll_interval_ms * self.idle_multiplier


def run_cdc_poll_loop(
    make_stream: Callable[[], DataFrame],
    subs: DataFrame | Callable[[int], DataFrame],
    sink: Callable[[DataFrame, int], Any],
    checkpoint_dir: str,
    cycles: int,
    cadence: AdaptiveCadence | None = None,
    shed_gate: Callable[[DataFrame], bool] | None = None,
    sleep_fn: Callable[[float], None] = time.sleep,
) -> list[dict]:
    """Drive the CDC pipeline for `cycles` poll rounds under the adaptive
    cadence. Each round: one availableNow pass (same checkpoint — offsets
    resume), then sleep per policy. Returns per-cycle telemetry:
    [{cycle, slot_changes, processed, delay_ms}] — the analog of the
    reference's poller telemetry events.

    `make_stream` builds the readStream frame fresh per cycle (an
    availableNow query terminates; sources must be re-opened — cheap, the
    checkpoint carries the offsets)."""
    cadence = cadence or AdaptiveCadence()
    out: list[dict] = []
    for cycle in range(cycles):
        stream = make_stream()
        processed = {"n": 0}
        slot = {"n": 0}

        def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
            # pin the micro-batch once: the slot count, the shed gate, and
            # the match pipeline all read the checkpointed frame instead of
            # re-scanning the source per action
            batch_df = batch_df.localCheckpoint()
            # slot count FIRST, like the reference's list_changes which
            # reports slot_changes_count even when nothing is delivered
            # (a shed batch must still register as backlog, not idle)
            slot["n"] += batch_df.count()
            if shed_gate is not None and shed_gate(batch_df):
                return
            dim = subs(epoch_id) if callable(subs) else subs
            matched = match_changes(batch_df, dim)
            matched = matched.localCheckpoint()  # count + sink, one compute
            processed["n"] += matched.count()
            sink(matched, epoch_id)

        q = (
            stream.writeStream.foreachBatch(on_batch)
            .queryName("cdc_adaptive")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        delay = cadence.next_delay_ms(processed["n"], slot["n"])
        out.append({
            "cycle": cycle,
            "slot_changes": slot["n"],
            "processed": processed["n"],
            "delay_ms": delay,
        })
        if cycle < cycles - 1 and delay:
            sleep_fn(delay / 1000.0)
    return out
