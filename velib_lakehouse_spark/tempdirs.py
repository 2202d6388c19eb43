"""Scratch directories for the registry queries that build a table.

Several showcase queries (``sources/lake.py``, ``operators/streaming.py``,
``operators/rollups.py``, ``sources/readers.py``) write a table, a
stream's source or its checkpoint into a fresh directory and read the
result back lazily, so the directory must outlive the call that made it.
``scratch_dir`` creates each one under a single root per process, and
one exit hook removes that root, so a registry sweep leaves nothing in
the temp directory.  The medallion core does not import this module.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading

_LOCK = threading.Lock()
_ROOT: str | None = None  # made on first use, removed at interpreter exit


def scratch_dir(prefix: str) -> str:
    """A new empty directory named ``prefix...``, removed at process exit."""
    global _ROOT
    with _LOCK:
        if _ROOT is None:
            _ROOT = tempfile.mkdtemp(prefix="velib_scratch_")
            atexit.register(shutil.rmtree, _ROOT, True)
    return tempfile.mkdtemp(prefix=prefix, dir=_ROOT)
