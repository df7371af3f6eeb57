"""The one staging rule for everything a query writes to local disk
and reads back: persisted indexes, stream batch layouts, format
round-trip tables and bucketed databases.

- **Fresh dir.** :func:`fresh_tmpdir` hands out
  ``<tmp>/spark_graft_<tag>_<pid>_<seq>``, emptied and created.  The
  pid keeps concurrent processes apart; the sequence keeps a pending
  lazy read of an earlier dir valid while a later call writes its own.
- **Key.** A layout derived from source tables is built once per
  (layout name, ``sf_dir``, source fingerprints) by
  ``sources.tables.staged_layout``; a regenerated fixture changes the
  fingerprint and so gets a fresh layout.
- **Marker.** ``staged_layout`` writes a ``_``-prefixed marker after
  the build returns and reuses a layout only while the marker exists,
  so a build that raised or a layout deleted under it is rebuilt.
  Spark's file index hides ``_``-prefixed names, so readers of the dir
  never see the marker.
- **Purge.** Every path is registered with :func:`register_tmpdir`;
  one ``atexit`` hook (and a SIGTERM handler) removes them all when the
  process ends.  Removal is best-effort (``ignore_errors``): at exit
  the paths are pure disk state — any Spark plan that read them has
  either executed or never will.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import signal
import tempfile
import threading

_DIRS: set[str] = set()
_SEQ = itertools.count(1)


def register_tmpdir(path: str) -> str:
    """Mark ``path`` for recursive removal at process exit; returns it
    unchanged so creation sites can wrap in place."""
    _DIRS.add(path)
    return path


def fresh_tmpdir(tag: str) -> str:
    """A new, empty directory ``<tmp>/spark_graft_<tag>_<pid>_<seq>``,
    registered for removal at process exit."""
    name = f"spark_graft_{tag}_{os.getpid()}_{next(_SEQ)}"
    path = register_tmpdir(tempfile.gettempdir() + "/" + name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _purge() -> None:
    for p in sorted(_DIRS):
        shutil.rmtree(p, ignore_errors=True)
    _DIRS.clear()


atexit.register(_purge)


def _sigterm_purge(signum, frame):  # pragma: no cover — signal path
    _purge()
    signal.signal(signum, signal.SIG_DFL)
    os.kill(os.getpid(), signum)


# Python's default SIGTERM disposition kills the process WITHOUT
# running atexit hooks — a `timeout`-terminated bench/oracle run would
# leave every staged fixture behind (observed: a TERM-killed run left
# its asof/ingest stagings in /tmp while normal exits cleaned up).
# Install a purge-then-reraise handler, but only when nothing else has
# claimed SIGTERM and we're on the main thread (signal.signal throws
# elsewhere); hosts with their own handlers keep them.
try:
    if (
        threading.current_thread() is threading.main_thread()
        and signal.getsignal(signal.SIGTERM) == signal.SIG_DFL
    ):
        signal.signal(signal.SIGTERM, _sigterm_purge)
except Exception:  # noqa: BLE001 — cleanup must never break import
    pass
