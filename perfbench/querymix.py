"""``query_mix``: one client runs a fixed list of registry queries in a
closed loop, pass after pass.  The first pass is warm-up and counts in
set-up time; the measured passes follow it.  A query's latency is its builder call plus ``collect()``;
a traced run also times ``write.format("noop")`` between the two, which
runs the plan without moving the result."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import gen
import harness
from measure import Tracer, median, tail

SF = 0.01
# One query per registry family: relational scan-aggregate (TPC-H q1),
# events sessions, lakehouse snapshot merge, document near-duplicate
# pairs and groups, vector clustering, ANN.  Three take well under a
# second, three well over one, and q_docs_minhash_near_dups about one:
# the median latency then always falls on that one query's samples
# instead of switching between clusters of queries from run to run.
# Kept short so a run with its warm-up pass fits the benchmark's time
# budget (see README.md).
MIX = (
    "q1_pricing_summary",
    "q_events_sessionize",
    "q_snapshot_merge_orders",
    "q_docs_minhash_near_dups",
    "q_docs_dedup_groups",
    "q_vec_kmeans",
    "q_emb_ann_ivf",
)
QUERY_TIMEOUT_S = 60.0
# Whole passes are measured, for at least ``--seconds`` and at least
# this many, so that every query's latency is sampled more than once.
MIN_PASSES = 2

LAYERS = (
    "queries.build_s",
    "queries.build_jobs",
    "exec.noop_s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "collect.s",
) + tuple(f"mix.{q}.s" for q in MIX)


class _Collected:
    """A collected result in the shape ``diffcheck.compare`` reads, so
    the check does not run the query a second time."""

    def __init__(self, rows, columns, schema) -> None:
        self._rows, self.columns, self.schema = rows, columns, schema

    def collect(self):
        return self._rows


def _canonical(rows) -> list:
    return sorted((tuple(r) for r in rows), key=repr)


def _job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks run) launched under a job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            stages += 1
            si = st.getStageInfo(s)
            tasks += si.numCompletedTasks if si is not None else 0
    return len(jobs), stages, tasks


def run(work: str, seed: int, seconds: float, trace: bool, tracer: Tracer):
    data = os.path.join(work, "tables")
    table_rows = gen.write_tables(data, seed, SF)

    spark, start_s = harness.start_session("perfbench-query-mix")
    sc = spark.sparkContext
    from fortymhz_spark.queries import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    seq = [0]

    @contextmanager
    def phase(rec: dict, label: str, span: str, trace_id: str, parent):
        """One call into a layer: its own job group (for the timeout and
        the job counts), its own span, its wall time in ``rec[label]``."""
        group = f"perfbench-{seq[0]}-{label}"
        sc.setJobGroup(group, f"{rec['name']} {label}", interruptOnCancel=True)
        timer = harness.OpTimeout(sc, group, QUERY_TIMEOUT_S)
        with timer, tracer.span(span, trace=trace_id, parent=parent) as sp:
            t = time.time()
            try:
                yield
            except Exception:
                rec["timeout"] = timer.fired
                raise
            rec[label] = time.time() - t
        if trace:
            rec[f"{label}_counts"] = counts = _job_counts(sc, group)
            sp["attrs"].update(zip(("jobs", "stages", "tasks"), counts))

    def execute(name: str, pass_no: int) -> dict:
        seq[0] += 1
        trace_id = f"query-{seq[0]}"
        rec = {"name": name, "pass": pass_no, "ok": False}
        with tracer.span("query", trace=trace_id, query=name) as root:
            try:
                with phase(rec, "build", "queries.build", trace_id, root["id"]):
                    df = queries[name](spark, data)
                if trace:
                    with phase(rec, "noop", "exec.noop", trace_id, root["id"]):
                        df.write.format("noop").mode("overwrite").save()
                with phase(rec, "collect", "collect", trace_id, root["id"]):
                    rows = df.collect()
            except Exception as exc:  # a failed or cancelled query
                kind = "timed out" if rec.get("timeout") else "failed"
                rec["error"] = f"{kind}: {type(exc).__name__}: {str(exc)[:300]}"
                return rec
        rec.update(ok=True, latency=rec["build"] + rec["collect"], rows=rows, df=df)
        return rec

    t = time.time()
    warm = [execute(name, 0) for name in MIX]
    setup_s = start_s + (time.time() - t)

    measured = []
    t0 = time.time()
    pass_no = 0
    while True:
        pass_no += 1
        for name in MIX:
            measured.append(execute(name, pass_no))
        if pass_no >= MIN_PASSES and time.time() - t0 >= seconds:
            break
    elapsed = time.time() - t0

    # -- checks, outside the timed region -------------------------------
    from tests.diffcheck import compare, make_oracle_conn

    # Each query's first result is compared with its oracle; every later
    # result of the same query must hold the same rows.
    con = make_oracle_conn(data)
    checks = []
    checked: dict[str, list] = {}
    for rec in warm + measured:
        name, df, rows = rec["name"], rec.pop("df", None), rec.pop("rows", None)
        if not rec["ok"]:
            checks.append(f"{name} pass {rec['pass']}: {rec['error']}")
            continue
        if name not in checked:
            problems = compare(_Collected(rows, df.columns, df.schema), con, oracles[name])
            checked[name] = _canonical(rows)
        else:
            problems = [] if _canonical(rows) == checked[name] else ["rows differ from pass 0"]
        if problems:
            rec["ok"] = False
            checks.append(f"{name} pass {rec['pass']}: {problems[:3]}")
    con.close()
    prov = harness.provenance(spark, seed, sf=SF, table_rows=table_rows, passes=pass_no)
    harness.stop_session(spark)

    ok = [r for r in measured if r["ok"]]
    lat = [r["latency"] for r in ok] or [float("nan")]
    q, lat_tail = tail(lat)
    p50 = median(lat)
    qps = len(ok) / elapsed
    failed = sum(not r["ok"] for r in warm + measured)
    metrics = {
        "setup_s": setup_s,
        "latency_p50_s": p50,
        "latency_tail_s": lat_tail,
        "throughput_per_s": qps,
    }
    report = [
        ("mix_queries_per_s", qps, "1/s", f"{len(ok)} queries in {elapsed:.2f} s, {pass_no} passes"),
        ("mix_latency_p50_s", p50, "s", f"n={len(lat)}"),
        ("mix_latency_tail_s", lat_tail, "s", f"p{q:g}, n={len(lat)}"),
    ]
    layers = {}
    if trace:
        layers = _layers(ok, pass_no, start_s)
    return harness.Outcome(
        metrics=metrics, report=report, attempted=len(warm) + len(measured),
        failed=failed, checks=checks, provenance=prov, layers=layers,
    )


def _layers(ok: list[dict], passes: int, start_s: float) -> dict[str, float]:
    """Per-pass layer totals and per-query median latencies."""

    def per_pass(fn):
        return sum(fn(r) for r in ok) / passes

    out = {
        "session.start_s": start_s,
        "queries.build_s": per_pass(lambda r: r["build"]),
        "queries.build_jobs": per_pass(lambda r: r["build_counts"][0]),
        "exec.noop_s": per_pass(lambda r: r["noop"]),
        "exec.jobs": per_pass(lambda r: r["noop_counts"][0]),
        "exec.stages": per_pass(lambda r: r["noop_counts"][1]),
        "exec.tasks": per_pass(lambda r: r["noop_counts"][2]),
        "collect.s": per_pass(lambda r: r["collect"]),
    }
    for name in MIX:
        lat = [r["latency"] for r in ok if r["name"] == name]
        out[f"mix.{name}.s"] = median(lat) if lat else 0.0
    return out
