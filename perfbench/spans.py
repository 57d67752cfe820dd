"""In-memory spans recorded from the benchmark's side of each layer boundary.

A :class:`Tracer` wraps calls into the program's public functions. Each span
records its name, layer, start, end, parent span and the operation (one
benchmark cycle) it belongs to, and sets a Spark job group named after the
span while it is open, so Spark jobs in the event log can be attributed to
the innermost open span. Spans stay in memory and are written out when the
run ends.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark_context=None):
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[dict] = []
        self._sc = spark_context
        # add to a perf_counter() reading to get seconds since the epoch
        self.epoch_offset = time.time() - time.perf_counter()

    def _set_group(self, name: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(JOB_GROUP, name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1]["id"] if self._stack else None
        rec = {
            "id": len(self.spans), "parent": parent, "op": self.op,
            "name": name, "layer": name.split(".", 1)[0],
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1]["name"] if self._stack else None)

    def wrap(self, fn, name: str):
        """``fn`` with every call recorded as span ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


@contextmanager
def traced_program(tracer: Tracer):
    """Install timing wrappers on the names ``logpipe_spark.pipeline``
    imports from its layers, and on the snapshot ledger; restore them on
    exit. Nothing in the package itself changes."""
    import logpipe_spark.pipeline as pipeline
    from logpipe_spark.ledger import SnapshotLedger

    targets = [
        (pipeline, "build_stage_chain", "pipeline.build_stage_chain"),
        (pipeline, "fan_out_write", "sinks.fan_out_write"),
        (pipeline, "file_lineage_rows", "sinks.file_lineage_rows"),
        (pipeline, "source_file_rows", "sinks.source_file_rows"),
        (pipeline, "write_lineage_parquet", "sinks.write_lineage_parquet"),
        (SnapshotLedger, "pending", "ledger.pending"),
        (SnapshotLedger, "commit", "ledger.commit"),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, name in targets:
            setattr(owner, attr, tracer.wrap(getattr(owner, attr), name))
        yield tracer
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


# -- arithmetic over recorded spans ---------------------------------------

def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it that its direct
    children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def totals_by_name(spans: list[dict]) -> dict[str, dict]:
    """Span name -> {"n", "total_s", "self_s"} summed over all its spans."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        t = out.setdefault(s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
        t["n"] += 1
        t["total_s"] += s["end"] - s["start"]
        t["self_s"] += selfs[s["id"]]
    return out
