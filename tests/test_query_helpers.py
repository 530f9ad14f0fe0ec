"""Query-layer helpers: the ANN served-vs-twin audit and the build-once
artifact cache."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

from pyspark.sql import functions as F

ROOT = pathlib.Path(__file__).resolve().parents[1]
PAIRS = "query_id long, neighbor_id long"


def _audit(spark, served, twin, **kw):
    from fortymhz_spark.queries.curation import _twin_audit

    exact = [(1, 2), (1, 3), (2, 4), (2, 5), (3, 6), (3, 8)]
    df = _twin_audit(
        spark.createDataFrame(exact, PAIRS),
        spark.createDataFrame(served, PAIRS),
        spark.createDataFrame(twin, PAIRS),
        bound=0.5,
        **kw,
    )
    return df.columns, [tuple(r) for r in df.collect()]


def test_twin_audit_identical_served_and_twin_all_true(spark):
    rows = [(1, 2), (1, 3), (2, 4), (2, 5), (3, 6), (3, 8)]
    cols, got = _audit(spark, rows, rows, flag="identical_to_refit")
    assert cols == ["query_id", "n_exact", "recall_ok", "identical_to_refit"]
    assert got == [(1, 2, True, True), (2, 2, True, True), (3, 2, True, True)]


def test_twin_audit_flags_only_the_query_that_differs(spark):
    twin = [(1, 2), (1, 3), (2, 4), (2, 5), (3, 6), (3, 8)]
    extra = twin + [(1, 9)]
    _, got = _audit(spark, extra, twin, flag="identical_to_inplan")
    assert [r[3] for r in got] == [False, True, True]
    missing = [p for p in twin if p != (2, 5)]
    _, got = _audit(spark, missing, twin, flag="identical_to_inplan")
    assert [r[3] for r in got] == [True, False, True]
    assert [r[2] for r in got] == [True, True, True]  # 1 of 2 meets 0.5


def test_twin_audit_query_without_served_or_twin_rows_is_identical(spark):
    rows = [(1, 2), (1, 3), (2, 4), (2, 5)]  # query 3 has no rows at all
    _, got = _audit(spark, rows, rows, flag="identical_to_refit")
    assert got == [(1, 2, True, True), (2, 2, True, True), (3, 2, False, True)]


def test_twin_audit_bad_served_row_flips_only_its_flag(spark):
    rows = [(1, 2), (1, 7), (2, 4), (2, 5), (3, 6), (3, 8)]
    cols, got = _audit(
        spark, rows, rows, flag="identical_to_inplan",
        bad_served={"no_deleted_served": F.col("neighbor_id") % 7 == 0},
    )
    assert cols[-2:] == ["identical_to_inplan", "no_deleted_served"]
    assert [r[3:] for r in got] == [(True, False), (True, True), (True, True)]

    # a condition read from a joined neighbor frame: only ids in the
    # allowed set may be served; twin-only rows never count
    allowed = spark.createDataFrame(
        [(i,) for i in (2, 4, 5, 6)], "neighbor_id long"
    ).withColumn("__ok__", F.lit(1))
    _, got = _audit(
        spark, [(1, 2), (2, 4), (2, 5), (3, 6), (3, 8)],
        [(1, 2), (1, 3), (2, 4), (2, 5), (3, 6)],
        flag="identical_to_inplan",
        bad_served={"only_filtered_served": F.col("__ok__").isNull()},
        neighbors=allowed,
    )
    assert [r[3:] for r in got] == [
        (False, True), (True, True), (False, False)
    ]


def test_build_once_dir_is_removed_at_exit(tmp_path):
    """A cached artifact's temp dir must not outlive the process."""
    code = (
        "import os\n"
        "from fortymhz_spark.queries.artifacts import build_once\n"
        "calls = []\n"
        "@build_once('probe')\n"
        "def art(spark, sf_dir, table_dir):\n"
        "    calls.append(sf_dir)\n"
        "    open(os.path.join(table_dir, 'x'), 'w').close()\n"
        "    return table_dir\n"
        "d = art(None, 'sf')\n"
        "assert art(None, 'sf') == d and calls == ['sf']\n"
        "assert os.path.isfile(os.path.join(d, 'x'))\n"
        "print(d)\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    )
    built = r.stdout.strip().splitlines()[-1]
    assert os.path.basename(built).startswith("fmhz_probe_")
    assert os.path.dirname(built) == str(tmp_path)
    assert not os.path.exists(built)
    assert list(tmp_path.iterdir()) == []


def test_query_layer_makes_temp_dirs_only_through_the_helper():
    queries = ROOT / "fortymhz_spark" / "queries"
    offenders = [
        p.name
        for p in queries.glob("*.py")
        if p.name != "artifacts.py" and "mkdtemp" in p.read_text()
    ]
    assert offenders == []
