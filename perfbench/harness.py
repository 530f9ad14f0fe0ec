"""Process-level plumbing shared by the workloads: the Spark session at
the shipped defaults, a peak-RSS sampler over the whole process tree,
per-operation timeouts and provenance."""

from __future__ import annotations

import os
import subprocess
import threading
import time
from dataclasses import dataclass, field

PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# peak RSS of this process and every descendant (JVM, Python workers)
# ---------------------------------------------------------------------------


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, frontier = 0, [root]
    while frontier:
        pid = frontier.pop()
        frontier.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, ValueError, IndexError):
            continue
    return total


class RssSampler:
    """Samples the process tree's summed RSS every ``period`` seconds on
    a daemon thread; ``stop`` returns the highest sum seen, in MB.  A
    sample walks /proc with the interpreter lock held, so samples are
    kept rare to leave the main thread alone."""

    def __init__(self, period: float = 1.0) -> None:
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def start_session(app: str):
    """``get_session`` exactly as shipped: no conf is set here."""
    from fortymhz_spark.session import get_session

    t = time.time()
    spark = get_session(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.time() - t


def stop_session(spark) -> None:
    """Stop Spark, shut the py4j gateway and wait for the JVM to exit
    (its Python workers are its children and go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def provenance(spark, seed: int, **extra) -> dict:
    import pyspark

    conf = spark.conf
    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "aqe": conf.get("spark.sql.adaptive.enabled"),
        "pyspark": pyspark.__version__,
        "seed": seed,
        **extra,
    }


# ---------------------------------------------------------------------------
# per-operation timeout
# ---------------------------------------------------------------------------


class OpTimeout:
    """Cancels a Spark job group if the operation outlives ``seconds``;
    ``fired`` tells the caller the failure was a timeout."""

    def __init__(self, sc, group: str, seconds: float) -> None:
        self.fired = False
        self._timer = threading.Timer(seconds, self._fire, args=(sc, group))
        self._timer.daemon = True

    def _fire(self, sc, group) -> None:
        self.fired = True
        sc.cancelJobGroup(group)

    def __enter__(self) -> "OpTimeout":
        self._timer.start()
        return self

    def __exit__(self, *exc) -> None:
        self._timer.cancel()


# ---------------------------------------------------------------------------
# a workload's outcome
# ---------------------------------------------------------------------------


@dataclass
class Outcome:
    """What a workload hands back to ``run.py``.

    ``metrics`` holds the end-to-end metrics (generic names), ``report``
    the same numbers under the names the workload's users know them by,
    with notes; ``layers`` the per-layer metrics of a traced run."""

    metrics: dict[str, float]
    report: list[tuple[str, float, str, str]]
    attempted: int
    failed: int
    checks: list[str]
    provenance: dict
    layers: dict[str, float] = field(default_factory=dict)
