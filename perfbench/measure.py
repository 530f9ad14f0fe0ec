"""Metric math and log readers, free of Spark so they test in isolation.

- percentiles, and the tail rule: the highest percentile that still has
  at least ten samples beyond it;
- readers for the streaming checkpoint's ``sources/0`` file log and the
  file sink's ``_spark_metadata`` log, which say which batch consumed an
  input file and which batch wrote an output file;
- the latency mapping from an input's due time to batch commit time;
- spans kept in memory, and each layer's self time.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import time
from contextlib import contextmanager

TAIL_MIN_BEYOND = 10


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0-100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> float:
    """Highest percentile, in tenths, with at least ``min_beyond`` of
    ``n`` samples above it; never below the median."""
    if n <= 0:
        raise ValueError("tail of no samples")
    q = math.floor(1000.0 * (1.0 - min_beyond / n)) / 10.0
    return max(50.0, q)


def tail(values) -> tuple[float, float]:
    """``(percentile used, value)`` under :func:`tail_percentile`."""
    q = tail_percentile(len(values))
    return q, percentile(values, q)


# ---------------------------------------------------------------------------
# streaming logs
# ---------------------------------------------------------------------------


def _read_lines(path: str) -> list[str]:
    with open(path) as f:
        return f.read().splitlines()


def _log_entries(path: str) -> list[dict]:
    return [json.loads(x) for x in _read_lines(path)[1:] if x.strip()]


def _batch_files(log_dir: str) -> list[tuple[int, str]]:
    """``(batchId, path)`` of each log file, ``N`` or ``N.compact``,
    ascending."""
    out = []
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if stem.isdigit():
            out.append((int(stem), os.path.join(log_dir, name)))
    return sorted(out)


def _norm(path: str) -> str:
    return path[len("file:"):].lstrip("/") if path.startswith("file:") else path.lstrip("/")


def source_file_batches(checkpoint_dir: str, source: int = 0) -> dict[str, int]:
    """Input file (as a path without scheme or leading slash) -> id of
    the query batch that consumed it.

    The file source logs each file under its own log offset
    (``sources/<source>/<offset>``, plain or compacted), which advances
    only when new files arrive.  The query's offset log
    (``offsets/<batchId>``) records the source offset each batch read
    up to, so a file belongs to the first batch whose end offset
    reaches the file's offset."""
    logged: dict[str, int] = {}
    for _, path in _batch_files(os.path.join(checkpoint_dir, "sources", str(source))):
        for e in _log_entries(path):
            logged[_norm(e["path"])] = int(e["batchId"])
    ends = []
    for batch, path in _batch_files(os.path.join(checkpoint_dir, "offsets")):
        line = _read_lines(path)[2 + source]
        if line.startswith("{"):  # "-" until the source has any file
            ends.append((json.loads(line)["logOffset"], batch))
    ends.sort()
    out = {}
    for f, off in logged.items():
        for end, batch in ends:
            if end >= off:
                out[f] = batch
                break
    return out


def sink_file_batches(sink_dir: str) -> dict[str, int]:
    """Output file -> id of the batch that wrote it, from the file
    sink's ``_spark_metadata`` log.  A compacted log file ``N.compact``
    holds every file up to batch N without batch ids, so its files not
    listed by an earlier log file belong to batch N."""
    out: dict[str, int] = {}
    for batch, path in _batch_files(os.path.join(sink_dir, "_spark_metadata")):
        for e in _log_entries(path):
            if e.get("action", "add") == "add":
                out.setdefault(_norm(e["path"]), batch)
    return out


def committed_batches(checkpoint_dir: str) -> set[int]:
    return {b for b, _ in _batch_files(os.path.join(checkpoint_dir, "commits"))}


def iso_epoch(ts: str) -> float:
    """Progress ``timestamp`` (ISO 8601, UTC) as epoch seconds."""
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def executed_batches(progress: list[dict]) -> list[dict]:
    """Progress events of batches that ran.  An idle trigger also emits
    an event, under the id of the next batch, with no ``addBatch``."""
    return [p for p in progress if "addBatch" in p.get("durationMs", {})]


def batch_end_times(progress: list[dict]) -> dict[int, float]:
    """batchId -> epoch seconds at which the batch finished: trigger
    start plus ``durationMs.triggerExecution``."""
    return {
        int(p["batchId"]): iso_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
        for p in executed_batches(progress)
    }


def file_latencies(
    published: dict[str, float],
    file_batch: dict[str, int],
    batch_end: dict[int, float],
) -> dict[str, float]:
    """Input file -> seconds from the time it was due to be published
    to the end of the batch that consumed it (files not yet consumed
    are left out)."""
    out = {}
    for f, t in published.items():
        b = file_batch.get(f)
        if b is not None and b in batch_end:
            out[f] = batch_end[b] - t
    return out


def key_latencies(
    key_file: dict,
    key_batch: dict,
    published: list[float],
    batch_end: dict[int, float],
) -> dict:
    """Output key -> seconds from the time the input file that
    completed it was due to be published (``key_file`` holds file
    indices into ``published``) to the end of the batch that wrote
    it."""
    out = {}
    for k, b in key_batch.items():
        if k in key_file and b in batch_end:
            out[k] = batch_end[b] - published[key_file[k]]
    return out


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent and trace id, plus
    counts attached at the same boundary.  Written out once, at the
    end.  A disabled tracer records nothing and costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._next = 0

    def add(self, name, start, end, *, trace, parent=None, **attrs) -> int | None:
        if not self.enabled:
            return None
        self._next += 1
        self.spans.append(
            {"id": self._next, "trace": trace, "parent": parent, "name": name,
             "start": start, "end": end, "attrs": attrs}
        )
        return self._next

    @contextmanager
    def span(self, name, *, trace, parent=None, **attrs):
        """Time a block; the yielded dict collects attributes set inside
        it, and its ``id`` is the parent id for child spans."""
        rec = {"id": None, "attrs": dict(attrs)}
        if not self.enabled:
            yield rec
            return
        self._next += 1
        rec["id"] = self._next
        start = time.time()
        try:
            yield rec
        finally:
            self.spans.append(
                {"id": rec["id"], "trace": trace, "parent": parent, "name": name,
                 "start": start, "end": time.time(), "attrs": rec["attrs"]}
            )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: (s["start"], s["id"])), f)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span name -> summed self time: each span's duration minus the
    part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - _covered(
            children.get(s["id"], []), s["start"], s["end"]
        )
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
