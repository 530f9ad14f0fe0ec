"""Self-tests of the benchmark's metric math, on a tiny synthetic stream.

    python3 -m pytest perfbench/test_measure.py -q

No Spark: the checkpoint and sink logs are written here in the formats
Spark writes them.
"""

from __future__ import annotations

import json
import os

import pytest

from measure import (
    Tracer,
    batch_end_times,
    committed_batches,
    executed_batches,
    file_latencies,
    iso_epoch,
    key_latencies,
    percentile,
    self_times,
    sink_file_batches,
    source_file_batches,
    tail,
    tail_percentile,
)

# ---------------------------------------------------------------------------
# tail selection
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "n, q",
    [(1, 50.0), (19, 50.0), (20, 50.0), (40, 75.0), (100, 90.0), (1000, 99.0),
     (5331, 99.8), (36, 72.2)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    assert tail_percentile(n) == q
    if q > 50.0:
        assert n * (1 - q / 100) >= 10 - 1e-9
        assert n * (1 - (q + 0.1) / 100) < 10


def test_tail_of_uniform_samples():
    xs = list(range(1, 101))  # 100 samples -> p90
    q, v = tail(xs)
    assert q == 90.0
    assert v == pytest.approx(90.1)
    assert sum(x > v for x in xs) == 10


def test_percentile_interpolates():
    assert percentile([3, 1, 2], 50) == 2
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert percentile([5], 99) == 5
    with pytest.raises(ValueError):
        percentile([], 50)


# ---------------------------------------------------------------------------
# latency mapping from checkpoint and sink logs
# ---------------------------------------------------------------------------


def _write_log(path, entries, header="v1"):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join([header] + [json.dumps(e) for e in entries]))


def _offsets(ckpt, batch, log_offset):
    os.makedirs(os.path.join(ckpt, "offsets"), exist_ok=True)
    meta = {"batchWatermarkMs": 0, "batchTimestampMs": 0, "conf": {}}
    src = json.dumps({"logOffset": log_offset}) if log_offset is not None else "-"
    with open(os.path.join(ckpt, "offsets", str(batch)), "w") as f:
        f.write("\n".join(["v1", json.dumps(meta), src]))


def _progress(batch, start, total_ms, rows, idle=False):
    d = {"latestOffset": 1, "triggerExecution": total_ms}
    if not idle:
        d.update(addBatch=total_ms - 3, getBatch=1, walCommit=1)
    return {"batchId": batch, "timestamp": start, "numInputRows": rows, "durationMs": d}


@pytest.fixture
def stream(tmp_path):
    """A stream of four files over five batches.

    - Source log offsets 0 (f0), 1 (f1, f2), 2 (f3); offset 2 is also
      written as ``2.compact`` holding every entry, as Spark's log
      compaction does.
    - Batch 0 reads f0; batch 1 is a no-data batch (no source offset
      advance); batch 2 reads f1 and f2; batch 3 reads f3; batch 4 is
      a no-data batch that flushes state.
    - The sink writes one file in batches 0, 2 and 4; batch 4's log is
      compacted and repeats the earlier files without batch ids.
    """
    ck, sink, inbox = tmp_path / "ck", tmp_path / "sink", tmp_path / "in"
    f = [f"file://{inbox}/f{i}.parquet" for i in range(4)]
    src = os.path.join(ck, "sources", "0")
    _write_log(os.path.join(src, "0"), [{"path": f[0], "timestamp": 1, "batchId": 0}])
    _write_log(os.path.join(src, "1"), [
        {"path": f[1], "timestamp": 1, "batchId": 1},
        {"path": f[2], "timestamp": 1, "batchId": 1},
    ])
    _write_log(os.path.join(src, "2.compact"), [
        {"path": p, "timestamp": 1, "batchId": b}
        for p, b in ((f[0], 0), (f[1], 1), (f[2], 1), (f[3], 2))
    ])
    for batch, off in ((0, 0), (1, 0), (2, 1), (3, 2), (4, 2)):
        _offsets(str(ck), batch, off)
    os.makedirs(os.path.join(ck, "commits"))
    for batch in range(5):
        open(os.path.join(ck, "commits", str(batch)), "w").close()
    s = [f"file://{sink}/part-{i}.parquet" for i in range(3)]
    meta = os.path.join(sink, "_spark_metadata")
    _write_log(os.path.join(meta, "0"), [{"path": s[0], "action": "add"}])
    _write_log(os.path.join(meta, "2"), [{"path": s[1], "action": "add"}])
    _write_log(os.path.join(meta, "4.compact"), [{"path": p, "action": "add"} for p in s])
    progress = [
        _progress(0, "2026-01-01T00:00:00.000Z", 5000, 10),
        _progress(1, "2026-01-01T00:00:05.000Z", 2000, 0),
        _progress(2, "2026-01-01T00:00:07.000Z", 3000, 20),
        _progress(3, "2026-01-01T00:00:10.000Z", 2500, 7),
        _progress(4, "2026-01-01T00:00:12.500Z", 1500, 0),
        _progress(5, "2026-01-01T00:00:14.000Z", 2, 0, idle=True),
    ]
    t0 = iso_epoch("2026-01-01T00:00:00.000Z")
    paths = [p[len("file://"):].lstrip("/") for p in f]
    sinks = [p[len("file://"):].lstrip("/") for p in s]
    return str(ck), str(sink), paths, sinks, progress, t0


def test_source_log_maps_files_to_query_batches(stream):
    ck, _, paths, _, _, _ = stream
    assert source_file_batches(ck) == {paths[0]: 0, paths[1]: 2, paths[2]: 2, paths[3]: 3}
    assert committed_batches(ck) == {0, 1, 2, 3, 4}


def test_source_log_before_any_file(tmp_path):
    _offsets(str(tmp_path), 0, None)
    assert source_file_batches(str(tmp_path)) == {}


def test_sink_log_assigns_compacted_files_to_their_batch(stream):
    _, sink, _, sinks, _, _ = stream
    assert sink_file_batches(sink) == {sinks[0]: 0, sinks[1]: 2, sinks[2]: 4}


def test_idle_triggers_are_not_batches(stream):
    progress = stream[4]
    assert [p["batchId"] for p in executed_batches(progress)] == [0, 1, 2, 3, 4]
    ends = batch_end_times(progress)
    t0 = stream[5]
    assert {b: round(e - t0, 3) for b, e in ends.items()} == {
        0: 5.0, 1: 7.0, 2: 10.0, 3: 12.5, 4: 14.0,
    }


def test_latency_from_publish_to_commit(stream):
    ck, _, paths, _, progress, t0 = stream
    published = {paths[0]: t0 - 1.0, paths[1]: t0 + 5.5, paths[2]: t0 + 6.0, paths[3]: t0 + 8.0}
    lat = file_latencies(published, source_file_batches(ck), batch_end_times(progress))
    assert {p: round(v, 3) for p, v in lat.items()} == {
        paths[0]: 6.0, paths[1]: 4.5, paths[2]: 4.0, paths[3]: 4.5,
    }
    # an orbit completed by file 3 and flushed by batch 4
    orbit = key_latencies(
        {7: 3}, {7: 4}, [published[p] for p in paths], batch_end_times(progress)
    )
    assert orbit == {7: pytest.approx(6.0)}


def test_unconsumed_files_have_no_latency(stream):
    ck, _, paths, _, progress, t0 = stream
    lat = file_latencies({"tmp/never.parquet": t0}, source_file_batches(ck), batch_end_times(progress))
    assert lat == {}


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def test_self_time_subtracts_covered_child_time():
    t = Tracer(True)
    root = t.add("query", 0.0, 10.0, trace="q1")
    t.add("build", 0.0, 3.0, trace="q1", parent=root)
    t.add("collect", 2.0, 6.0, trace="q1", parent=root)  # overlaps build by 1 s
    t.add("build", 20.0, 21.0, trace="q2")
    st = self_times(t.spans)
    assert st == {"query": pytest.approx(4.0), "build": pytest.approx(4.0),
                  "collect": pytest.approx(4.0)}


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x", trace="a") as rec:
        rec["attrs"]["n"] = 1
    assert t.add("y", 0, 1, trace="a") is None
    assert t.spans == []
