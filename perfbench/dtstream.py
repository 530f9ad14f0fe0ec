"""``dt_stream``: the paper's path, an open-loop drift-tube hit stream.

A generator publishes parquet files of hits into a watched directory
(write aside, then atomic rename) on a fixed schedule.  The file-source
twin of the Kafka reader feeds two queries started at the shipped
defaults: ``assemble_orbits`` into the parquet archive sink, and
``streaming_channel_occupancy`` into an in-memory table.  Both use the
default processing-time trigger.  The steady phase ends with one burst
of files; the benchmark stops both queries once their outputs are
complete and then compares them with a pure-Python reference.

Latencies are read back from Spark's own logs: the checkpoint's
``sources/0`` log says which batch consumed a file, the archive's
``_spark_metadata`` log which batch wrote an orbit, and the progress
events when each batch finished.
"""

from __future__ import annotations

import io
import json
import os
import time

import pyarrow.parquet as pq

import gen
import harness
from measure import (
    Tracer,
    batch_end_times,
    committed_batches,
    executed_batches,
    file_latencies,
    iso_epoch,
    key_latencies,
    median,
    sink_file_batches,
    source_file_batches,
    tail,
)

FILE_INTERVAL_S = 0.5
# Offered load, about 950 hits/s: a third to a half of the capacity
# measured on 4 cores at the shipped defaults (see README.md).  Fixed;
# never tuned per run.
ORBITS_PER_FILE = 150
BURST_FILES = 8
DRAIN_TIMEOUT_S = 60.0
WARMUP_TIMEOUT_S = 60.0
POLL_S = 0.05

LAYERS = (
    "stream.latest_offset_ms",
    "stream.get_batch_ms",
    "stream.backlog_files",
    "stream.occupancy_latency_p50_s",
    "gen.lateness_ms",
    "stream.batches",
    "stream.no_data_batches",
    "stream.no_data_batch_ms",
    "stream.add_batch_ms",
    "stream.query_planning_ms",
    "stream.wal_commit_ms",
    "stream.commit_offsets_ms",
    "stream.hits_per_batch",
    "state.rows_total",
    "state.rows_removed",
    "state.memory_bytes",
    "state.commit_ms",
    "sink.archive_files_per_batch",
    "occupancy.add_batch_ms",
)

# durationMs phases of a micro-batch, in the order MicroBatchExecution
# runs them (the offset WAL write precedes getBatch).
_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class _Publisher:
    """Writes pre-serialized files into the watched directory with an
    atomic rename, and remembers when each was due and when it became
    visible.  Latencies count from the due time, so a stalled generator
    shows as latency, not as a lighter load."""

    def __init__(self, inbox: str, staging: str, tables) -> None:
        self.staging = staging
        self.blobs = []
        for t in tables:
            buf = io.BytesIO()
            pq.write_table(t, buf)
            self.blobs.append(buf.getvalue())
        self.due: list[float] = [float("nan")] * len(tables)
        self.published: list[float] = [float("nan")] * len(tables)
        self.paths = [os.path.join(inbox, f"hits-{i:05d}.parquet") for i in range(len(tables))]

    def publish(self, i: int, due: float | None = None) -> None:
        """Publish file ``i`` once ``due`` (epoch seconds; now if None)
        has come."""
        now = time.time()
        if due is not None and due > now:
            time.sleep(due - now)
        tmp = os.path.join(self.staging, f"hits-{i:05d}.parquet")
        with open(tmp, "wb") as f:
            f.write(self.blobs[i])
        os.rename(tmp, self.paths[i])
        self.published[i] = time.time()
        self.due[i] = self.published[i] if due is None else due


def _latest_offset_batch(ckpt: str) -> int:
    d = os.path.join(ckpt, "offsets")
    ids = [int(n) for n in os.listdir(d) if n.isdigit()] if os.path.isdir(d) else []
    return max(ids, default=-1)


def _wait(cond, timeout: float, queries) -> bool:
    """Poll ``cond`` until true; False on timeout or a dead query."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if cond():
            return True
        for q in queries:
            if not q.isActive:
                return False
        time.sleep(POLL_S)
    return False


def _consumed(ckpt: str, paths: list[str]) -> bool:
    """Every path consumed by a committed batch."""
    batches = source_file_batches(ckpt)
    done = committed_batches(ckpt)
    return all(batches.get(p.lstrip("/")) in done for p in paths)


class _ArchiveRows:
    """Row count of the archive's committed files, reading each new
    file's footer once."""

    def __init__(self, sink: str) -> None:
        self.sink, self.rows = sink, {}

    def count(self) -> int:
        for f in sink_file_batches(self.sink):
            if f not in self.rows:
                self.rows[f] = pq.ParquetFile("/" + f).metadata.num_rows
        return sum(self.rows.values())


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _reported(query, batch_id: int) -> bool:
    """The query has posted the progress event of ``batch_id``."""
    return any(p["batchId"] >= batch_id for p in executed_batches(_progress(query)))


def run(work: str, seed: int, seconds: float, trace: bool, tracer: Tracer):
    n_steady = max(1, round(seconds / FILE_INTERVAL_S))
    n_files = 1 + n_steady + BURST_FILES  # file 0 is the warm-up file
    tables = gen.dt_files(seed, [1, n_steady + BURST_FILES], ORBITS_PER_FILE)
    ref_orbits, ref_occupancy = gen.dt_reference(tables)
    orbit_file = gen.last_hit_file(tables)
    inbox, staging = os.path.join(work, "inbox"), os.path.join(work, "staging")
    os.makedirs(inbox)
    os.makedirs(staging)
    pub = _Publisher(inbox, staging, tables)
    archive = os.path.join(work, "archive")
    ck_orbits, ck_occ = os.path.join(work, "ck-orbits"), os.path.join(work, "ck-occupancy")
    steady = range(1, 1 + n_steady)
    burst = range(1 + n_steady, n_files)
    steady_hits = sum(tables[i].num_rows for i in steady)
    burst_hits = sum(tables[i].num_rows for i in burst)
    offered = steady_hits / (n_steady * FILE_INTERVAL_S)

    spark, start_s = harness.start_session("perfbench-dt-stream")
    from fortymhz_spark.schemas import DT_HIT
    from fortymhz_spark.streaming.queries import streaming_channel_occupancy
    from fortymhz_spark.streaming.sinks import start_parquet_sink
    from fortymhz_spark.streaming.sources import file_stream
    from fortymhz_spark.streaming.state import assemble_orbits

    checks: list[str] = []
    t_setup = time.time()
    occ_table = f"perfbench_occupancy_{os.getpid()}"
    q_orbits = start_parquet_sink(
        assemble_orbits(file_stream(spark, inbox, DT_HIT)), archive, ck_orbits
    )
    q_occ = (
        streaming_channel_occupancy(file_stream(spark, inbox, DT_HIT))
        .writeStream.format("memory")
        .queryName(occ_table)
        .outputMode("complete")
        .option("checkpointLocation", ck_occ)
        .start()
    )
    queries = (q_orbits, q_occ)

    # -- warm-up: the first data batch of each query ----------------------
    pub.publish(0)
    warm_ok = _wait(
        lambda: _consumed(ck_orbits, pub.paths[:1]) and _consumed(ck_occ, pub.paths[:1]),
        WARMUP_TIMEOUT_S, queries,
    )
    setup_s = start_s + (time.time() - t_setup)
    if not warm_ok:
        checks.append("warm-up batch did not commit")

    t0 = float("nan")
    if warm_ok:
        # -- steady phase, open loop, starting as a batch starts ----------
        b = _latest_offset_batch(ck_orbits)
        _wait(lambda: _latest_offset_batch(ck_orbits) > b, WARMUP_TIMEOUT_S, queries)
        t0 = time.time()
        for k, i in enumerate(steady):
            pub.publish(i, t0 + k * FILE_INTERVAL_S)
        # -- then one burst, on the same schedule ---------------------------
        for i in burst:
            pub.publish(i, t0 + n_steady * FILE_INTERVAL_S)
        # -- drain: every file consumed, every orbit archived, and the
        # progress event of each query's last batch posted --------------
        rows = _ArchiveRows(archive)
        if not _wait(
            lambda: _consumed(ck_orbits, pub.paths)
            and _consumed(ck_occ, pub.paths)
            and rows.count() >= len(ref_orbits)
            and _reported(q_orbits, max(sink_file_batches(archive).values()))
            and _reported(q_occ, source_file_batches(ck_occ)[pub.paths[-1].lstrip("/")]),
            DRAIN_TIMEOUT_S, queries,
        ):
            checks.append(f"outputs incomplete after {DRAIN_TIMEOUT_S:.0f} s drain")

    for q in queries:
        q.stop()
    checks.extend(
        f"query failed: {str(q.exception())[:300]}" for q in queries if q.exception()
    )
    prog_orbits = executed_batches(_progress(q_orbits))
    prog_occ = executed_batches(_progress(q_occ))

    # -- checks, outside the timed region ---------------------------------
    file_batch = sink_file_batches(archive)
    orbit_batch: dict[int, int] = {}
    archived = mismatched = twice = 0
    for f, b in file_batch.items():
        cols = pq.read_table("/" + f).to_pydict()
        for o, n, c, fb, lb in zip(
            cols["ORBIT_CNT"], cols["n_hits"], cols["n_channels"], cols["first_bx"],
            cols["last_bx"],
        ):
            archived += 1
            twice += o in orbit_batch
            orbit_batch[o] = b
            if ref_orbits.get(o) != (n, c, fb, lb):
                mismatched += 1
    if mismatched or twice or archived != len(ref_orbits):
        checks.append(
            f"archive: {archived} orbits, {len(ref_orbits)} expected, "
            f"{mismatched} differ, {twice} archived twice"
        )
    occupancy = {
        (r["fpga"], r["channel"]): r["n_hits"] for r in spark.table(occ_table).collect()
    }
    if occupancy != ref_occupancy:
        checks.append(f"occupancy: {len(occupancy)} cells, {len(ref_occupancy)} expected or counts differ")
    prov = harness.provenance(
        spark, seed, offered_hits_per_s=round(offered, 1), files=n_files,
        orbits_per_file=ORBITS_PER_FILE, file_interval_s=FILE_INTERVAL_S,
    )
    harness.stop_session(spark)

    # -- metrics ------------------------------------------------------------
    end_orbits = batch_end_times(prog_orbits)
    end_occ = batch_end_times(prog_occ)
    measured_orbits = {o: f for o, f in orbit_file.items() if f >= 1}
    orbit_lat = list(
        key_latencies(measured_orbits, orbit_batch, pub.due, end_orbits).values()
    )
    measured_paths = {pub.paths[i].lstrip("/"): pub.due[i] for i in range(1, n_files)}
    occ_lat = list(
        file_latencies(measured_paths, source_file_batches(ck_occ), end_occ).values()
    )
    # Burst throughput: hits read by the batches that read any burst file,
    # over those batches' run time.  Counting from the batches' start
    # rather than the burst's due time leaves out the wait for the batch
    # in flight, whose length only says where the burst fell in it.
    src_orbits = source_file_batches(ck_orbits)
    file_of = {p.lstrip("/"): i for i, p in enumerate(pub.paths)}
    burst_batches = {src_orbits.get(pub.paths[i].lstrip("/")) for i in burst}
    burst_read = sum(
        tables[file_of[f]].num_rows for f, b in src_orbits.items() if b in burst_batches
    )
    burst_s = sum(
        p["durationMs"]["triggerExecution"] / 1000
        for p in prog_orbits if p["batchId"] in burst_batches
    ) or float("nan")

    if not orbit_lat or len(occ_lat) != n_files - 1:
        checks.append("latency samples missing: a batch's progress event was not found")
    orbit_lat = orbit_lat or [float("nan")]
    occ_lat = occ_lat or [float("nan")]
    q_tail, lat_tail = tail(orbit_lat)
    p50 = median(orbit_lat)
    metrics = {
        "setup_s": setup_s,
        "latency_p50_s": p50,
        "latency_tail_s": lat_tail,
        "throughput_per_s": burst_read / burst_s,
    }
    report = [
        ("dt_orbit_latency_p50_s", p50, "s", f"n={len(orbit_lat)} orbits"),
        ("dt_orbit_latency_tail_s", lat_tail, "s", f"p{q_tail:g}, n={len(orbit_lat)}"),
        ("dt_occupancy_latency_p50_s", median(occ_lat), "s", f"n={len(occ_lat)} files"),
        ("dt_burst_hits_per_s", burst_read / burst_s, "1/s",
         f"{burst_read} hits read with the {burst_hits}-hit burst, "
         f"{len(burst_batches)} batch(es), {burst_s:.2f} s"),
        ("dt_offered_hits_per_s", offered, "1/s", f"{n_steady} files, {steady_hits} hits"),
    ]
    # operations: every micro-batch, the warm-up and drain waits, and the
    # archive, occupancy and latency-mapping checks; each entry of
    # ``checks`` is one failed operation
    attempted = len(prog_orbits) + len(prog_occ) + 5
    failed = len(checks)
    layers = {}
    if trace:
        layers = _layers(
            prog_orbits, prog_occ, t0, pub, src_orbits, file_batch, median(occ_lat),
            start_s,
        )
        _batch_spans(tracer, "orbits", prog_orbits)
        _batch_spans(tracer, "occupancy", prog_occ)
    return harness.Outcome(
        metrics=metrics, report=report, attempted=attempted, failed=failed,
        checks=checks, provenance=prov, layers=layers,
    )


def _layers(prog, prog_occ, t0, pub, src_batches, sink_batches, occ_p50, start_s):
    """Per-layer figures for the measured phase: the batches that started
    at or after the steady phase began.  The phase begins once a batch's
    offset log entry is seen, a little after the batch's trigger time,
    hence the half-second allowance."""
    batches = [p for p in prog if iso_epoch(p["timestamp"]) >= t0 - 0.5]
    data = [p for p in batches if p["numInputRows"] > 0]
    empty = [p for p in batches if p["numInputRows"] == 0]

    def dur(ps, key):
        vals = [p["durationMs"].get(key, 0) for p in ps]
        return median(vals) if vals else 0.0

    ops = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    ids = {p["batchId"] for p in batches}
    # backlog: files already published when a batch started but left for it
    published = {p.lstrip("/"): t for p, t in zip(pub.paths, pub.published)}
    backlog = [
        sum(
            1 for f, b in src_batches.items()
            if b == p["batchId"] and published[f] < iso_epoch(p["timestamp"])
        )
        for p in data
    ]
    files_per_batch = [
        sum(1 for b in sink_batches.values() if b == i) for i in ids
    ]
    occ_data = [p for p in prog_occ if p["numInputRows"] > 0 and iso_epoch(p["timestamp"]) >= t0 - 0.5]
    return {
        "session.start_s": start_s,
        "stream.latest_offset_ms": dur(batches, "latestOffset"),
        "stream.get_batch_ms": dur(data, "getBatch"),
        "stream.backlog_files": sum(backlog) / len(backlog) if backlog else 0.0,
        "stream.occupancy_latency_p50_s": occ_p50,
        "gen.lateness_ms": 1000 * max(p - d for p, d in zip(pub.published[1:], pub.due[1:])),
        "stream.batches": len(batches),
        "stream.no_data_batches": len(empty),
        "stream.no_data_batch_ms": dur(empty, "triggerExecution"),
        "stream.add_batch_ms": dur(data, "addBatch"),
        "stream.query_planning_ms": dur(batches, "queryPlanning"),
        "stream.wal_commit_ms": dur(batches, "walCommit"),
        "stream.commit_offsets_ms": dur(batches, "commitOffsets"),
        "stream.hits_per_batch": (
            sum(p["numInputRows"] for p in data) / len(data) if data else 0.0
        ),
        "state.rows_total": max((o["numRowsTotal"] for o in ops), default=0),
        "state.rows_removed": sum(o["numRowsRemoved"] for o in ops),
        "state.memory_bytes": max((o["memoryUsedBytes"] for o in ops), default=0),
        "state.commit_ms": median([o["commitTimeMs"] for o in ops]) if ops else 0.0,
        "sink.archive_files_per_batch": (
            sum(files_per_batch) / len(files_per_batch) if files_per_batch else 0.0
        ),
        "occupancy.add_batch_ms": dur(occ_data, "addBatch"),
    }


def _batch_spans(tracer: Tracer, query: str, progress: list[dict]) -> None:
    """One trace per micro-batch, rebuilt from its progress event: the
    batch span and, laid end to end in execution order, one child span
    per ``durationMs`` phase.  State-operator counts ride on the batch
    span."""
    for p in progress:
        start = iso_epoch(p["timestamp"])
        d = p["durationMs"]
        trace_id = f"{query}-batch-{p['batchId']}"
        attrs = {"batchId": p["batchId"], "numInputRows": p["numInputRows"]}
        for op in p.get("stateOperators", []):
            attrs.update(
                {f"state.{k}": op[k] for k in (
                    "numRowsTotal", "numRowsUpdated", "numRowsRemoved",
                    "memoryUsedBytes", "commitTimeMs",
                ) if k in op}
            )
        root = tracer.add(
            "stream.batch", start, start + d.get("triggerExecution", 0) / 1000,
            trace=trace_id, query=query, **attrs,
        )
        t = start
        for phase in _PHASES:
            ms = d.get(phase)
            if ms is None:
                continue
            tracer.add(f"stream.{phase}", t, t + ms / 1000, trace=trace_id, parent=root)
            t += ms / 1000
