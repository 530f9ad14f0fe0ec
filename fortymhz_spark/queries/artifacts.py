"""Temp dirs and build-once artifacts for the query layer.

Lifecycle queries grade a train-once/serve-many path: the first call in
a process builds an index, codes table or merged snapshot, and every
later call (bench reps, parity reruns) only loads it.  Every dir made
here is removed at interpreter exit.
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile

_DIRS: list[str] = []


@atexit.register
def _remove_dirs() -> None:
    while _DIRS:
        shutil.rmtree(_DIRS.pop(), ignore_errors=True)


def temp_dir(name: str) -> str:
    """A fresh ``fmhz_<name>_*`` temp dir, removed at interpreter exit."""
    path = tempfile.mkdtemp(prefix=f"fmhz_{name}_")
    _DIRS.append(path)
    return path


def build_once(name: str):
    """Turn ``build(spark, sf_dir, table_dir)`` into ``get(spark,
    sf_dir)``: the first call per (process, ``sf_dir``) runs ``build``
    in a fresh :func:`temp_dir` and caches its return value; later
    calls return the cached value."""

    def deco(build):
        built: dict = {}

        @functools.wraps(build)
        def get(spark, sf_dir: str):
            if sf_dir not in built:
                built[sf_dir] = build(spark, sf_dir, temp_dir(name))
            return built[sf_dir]

        return get

    return deco
