"""In-memory spans for the benchmark's traced mode, and the nearest-rank
quantile the benchmark reports.

A span has a name, start, end (seconds, `time.perf_counter`), the id of
its parent span and the micro-batch id. Spans stay in a list and are written
out once, when the run ends. A span's self time is its duration minus the
part of that interval its children cover.
"""

from __future__ import annotations

import json
import math
import time
from contextlib import contextmanager


class Tracer:
    """Records spans when enabled; when disabled `span` records nothing and
    `materialize` is the identity, so untraced batches execute the plain lazy
    pipeline. Spans are recorded by the one thread that runs the batches."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, batch: int):
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "batch": batch,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "counts": {}}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec["counts"]
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def build(self, layer: str, batch: int, fn, *args, **kwargs):
        """Call a public function of layer `layer` (lazy plan construction)
        inside `<layer>.build`."""
        with self.span(f"{layer}.build", batch):
            return fn(*args, **kwargs)

    def materialize(self, layer: str, batch: int, df):
        """Traced mode: execute `df` eagerly at the layer boundary inside
        `<layer>.exec` and return the checkpointed frame, so the next layer
        starts from computed rows; the span counts the rows. Untraced: `df`."""
        if not self.enabled:
            return df
        with self.span(f"{layer}.exec", batch) as counts:
            df = df.localCheckpoint(eager=True)
            counts["rows"] = df.count()
        return df

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time (seconds) of every span: its duration minus the union of
    its children's intervals clipped to it."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
            a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def quantile(values, q: float) -> float:
    """Nearest-rank quantile (q in [0, 1]) of a non-empty sequence."""
    v = sorted(values)
    if not v:
        raise ValueError("quantile of no values")
    return v[min(len(v) - 1, max(0, math.ceil(q * len(v)) - 1))]
