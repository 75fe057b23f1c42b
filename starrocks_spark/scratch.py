"""The one rule for files the engine writes: they go under
``scratch_root()``, one directory per process that an ``atexit`` hook
removes after the harness has materialized every result.

Query callables return lazy DataFrames, so a file they write (an index
table, a FILES() export, a staged stream source, a managed-table demo)
must outlive the call and cannot be removed inside it. ``scratch_dir``
gives the directory for one artifact: with ``key`` (e.g. the sf_dir)
it is one directory per (tag, corpus), so a build-once artifact is
found again by the same lookup and two corpora never share one.

What is built once per SparkSession (the frames over these files) is
remembered in ``session.session_memo``, not here: a frame is bound to
the session that made it.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

_root: str | None = None


def scratch_root() -> str:
    global _root
    if _root is None:
        _root = tempfile.mkdtemp(prefix="starrocks_spark_scratch_")
        atexit.register(shutil.rmtree, _root, ignore_errors=True)
    return _root


def scratch_dir(tag: str, key: str | None = None) -> str:
    """A scratch subdirectory for ``tag``; pass ``key`` (e.g. the
    sf_dir) to get a distinct directory per corpus."""
    name = tag
    if key is not None:
        name += "_" + hashlib.md5(key.encode()).hexdigest()[:10]
    d = os.path.join(scratch_root(), name)
    os.makedirs(d, exist_ok=True)
    return d
