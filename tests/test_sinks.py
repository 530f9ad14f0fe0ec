"""Streaming sink helpers (streaming/sinks.py)."""

from __future__ import annotations

import tempfile

import pytest

from fortymhz_spark.streaming.sinks import run_to_memory


@pytest.fixture()
def parquet_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(5).write.parquet(src)
    return spark.readStream.schema("id long").parquet(src)


def test_run_to_memory_removes_its_own_checkpoint(
    spark, tmp_path, monkeypatch, parquet_stream
):
    """With no checkpoint_dir given, run_to_memory makes an
    ``fmhz_ckpt_*`` dir and must remove it once the query has stopped —
    on a completed run and on the timeout path alike."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    got = run_to_memory(parquet_stream, spark)
    assert sorted(r["id"] for r in got.collect()) == [0, 1, 2, 3, 4]
    assert not list(tmp_path.glob("fmhz_ckpt_*"))

    with pytest.raises(TimeoutError):
        run_to_memory(parquet_stream, spark, timeout_seconds=0.001)
    assert not list(tmp_path.glob("fmhz_ckpt_*"))


def test_run_to_memory_keeps_a_caller_checkpoint(
    spark, tmp_path, parquet_stream
):
    ckpt = tmp_path / "ckpt"
    run_to_memory(parquet_stream, spark, checkpoint_dir=str(ckpt))
    assert (ckpt / "offsets").is_dir()
