"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dt_stream --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The session is ``get_session`` as
shipped; the benchmark sets no Spark conf.  Inputs are generated from
``--seed`` inside a work directory under ``perfbench/_work`` that is
removed at exit.  The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).
A traced run also writes its spans to ``perfbench/_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
OUT = os.path.join(HERE, "_out")
RUN_LIMIT_S = 170.0

# End-to-end metrics, under names every workload shares; each workload
# also prints them under its own names (see README.md).
UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_per_s": "1/s",
}


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    os._exit(code)


def _abort(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    _fail(f"run exceeded {RUN_LIMIT_S:.0f} s", 3)


def _stop_spark() -> None:
    """Stop a session a failed workload left running."""
    try:
        from pyspark.sql import SparkSession

        import harness

        spark = SparkSession.getActiveSession()
        if spark is not None:
            harness.stop_session(spark)
    except Exception:
        pass


def _environment(work: str) -> None:
    """Workers import the package from the checkout wherever they run;
    temporary files stay inside the checkout; the session gets as many
    cores as the machine has and otherwise its shipped defaults."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_MASTER"):
        os.environ.pop(var, None)
    import harness

    os.environ["SPARK_GRAFT_CPUS"] = str(harness.nproc())


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (
        os.path.isfile(os.path.join(ROOT, "fortymhz_spark", "session.py"))
        and os.path.isfile(os.path.join(ROOT, "tests", "diffcheck.py"))
    ):
        _fail(f"no fortymhz_spark package and tests/diffcheck.py under {ROOT}")
    sys.path.insert(1, ROOT)
    import dtstream
    import querymix
    from harness import RssSampler
    from measure import Tracer, self_times

    workloads = {"dt_stream": dtstream, "query_mix": querymix}
    if args.workload not in workloads:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(workloads)}")
    layer_names = (
        ("session.start_s", "process.peak_rss_mb") + dtstream.LAYERS + querymix.LAYERS
    )

    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK)
    watchdog = threading.Timer(RUN_LIMIT_S, _abort, args=(work,))
    watchdog.daemon = True
    watchdog.start()
    error = None
    try:
        _environment(work)
        tracer = Tracer(bool(args.trace))
        rss = RssSampler().start()
        out = workloads[args.workload].run(
            work, args.seed, args.seconds, bool(args.trace), tracer
        )
        peak = rss.stop()
    except Exception as exc:
        import traceback

        traceback.print_exc()
        error = exc
        _stop_spark()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    watchdog.cancel()
    if error is not None:
        _fail(f"workload {args.workload} did not complete: {error}", 1)

    out.layers["process.peak_rss_mb"] = peak
    w = args.workload
    print(f"# {w} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    print(f"# provenance {json.dumps(out.provenance, sort_keys=True)}")
    for name in UNITS:
        print(f"{w} {name} = {out.metrics[name]:.6g} {UNITS[name]}")
    for name, value, unit, note in out.report:
        print(f"{w} {name} = {value:.6g} {unit} ({note})")
    print(f"{w} peak_rss_mb = {peak:.6g} MB (this process, the JVM and Python workers)")
    frac = out.failed / out.attempted
    print(f"{w} ops_failed_frac = {frac:.6g} ({out.failed} of {out.attempted})")
    for c in out.checks:
        print(f"{w} CHECK FAILED: {c}")
    if not all(math.isfinite(v) for v in out.metrics.values()):
        _fail("a metric could not be computed; no result", 1)

    if args.trace:
        metrics = {n: {"value": float(out.layers.get(n, 0.0)), "unit": _layer_unit(n)}
                   for n in layer_names}
        spans = os.path.join(OUT, f"spans-{w}-seed{args.seed}.json")
        tracer.dump(spans)
        print(f"# spans: {len(tracer.spans)} written to {os.path.relpath(spans, ROOT)}")
        for layer, s in sorted(self_times(tracer.spans).items()):
            print(f"{w} self_time {layer} = {s:.4f} s")
        _overhead(w, out.metrics)
    else:
        metrics = {n: {"value": float(out.metrics[n]), "unit": u} for n, u in UNITS.items()}
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"untraced-{w}.json"), "w") as f:
            json.dump(out.metrics, f)
    print(json.dumps({
        "correct": not out.checks,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }), flush=True)


def _layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def _overhead(workload: str, traced: dict) -> None:
    """Tracing overhead: this traced run's end-to-end metrics minus the
    last untraced run's, when one was recorded in this checkout."""
    path = os.path.join(OUT, f"untraced-{workload}.json")
    if not os.path.exists(path):
        print(f"{workload} tracing overhead: no untraced run recorded in {os.path.relpath(OUT, ROOT)}")
        return
    with open(path) as f:
        base = json.load(f)
    for name, unit in UNITS.items():
        if name in base and name in traced:
            d = traced[name] - base[name]
            print(f"{workload} tracing overhead {name} = {d:+.6g} {unit} "
                  f"(traced {traced[name]:.6g}, untraced {base[name]:.6g})")


if __name__ == "__main__":
    main()
