"""Single-writer fence for parquet table rewrites.

BigQuery serializes the reference's writes (``src/bq.js:49``); a plain
parquet directory has no transaction log, so two writers rewriting one table
can lose each other's update. Snapshot commits, branch publishes
(``operators/snapshots.py``) and rollup refreshes (``operators/rollup.py``)
take ``warehouse_write_lock`` around their rewrite.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class ConcurrentWriteError(RuntimeError):
    """Another writer holds the table lock."""


LOCK_TTL_SECONDS = 600.0


@contextmanager
def warehouse_write_lock(target_path: str, ttl: float = LOCK_TTL_SECONDS):
    """Single-writer fence for a table rewrite (snapshot commit, branch
    publish, rollup refresh): an atomically-created ``_merge.lock`` file in
    the table directory (O_CREAT|O_EXCL — POSIX-atomic on one filesystem).
    A second writer fails fast with :class:`ConcurrentWriteError` instead
    of interleaving its rewrite with the first writer's (lost update).
    Locks older than ``ttl`` are presumed crashed and broken. This is the
    filesystem emulation of Delta/Iceberg's optimistic transaction log; on
    an object store without atomic create, use a real lock service or table
    format instead.

    The lock is a SIBLING of the table directory, not inside it: a static
    partition-overwrite deletes the whole table dir mid-write, which would
    release an in-dir lock while the write is still running."""
    os.makedirs(target_path, exist_ok=True)
    lock = target_path.rstrip("/") + "._merge.lock"
    deadline_fresh = time.time() - ttl
    try:
        st = os.stat(lock)
        if st.st_mtime < deadline_fresh:
            os.unlink(lock)  # crashed holder; best-effort break
    except FileNotFoundError:
        pass
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise ConcurrentWriteError(
            f"{lock} exists: another writer is merging this table "
            f"(or crashed less than {ttl}s ago)"
        ) from None
    try:
        os.write(fd, json.dumps({"pid": os.getpid(), "ts": time.time()}).encode())
        os.close(fd)
        yield
    finally:
        try:
            os.unlink(lock)
        except FileNotFoundError:
            pass
