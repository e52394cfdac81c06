"""Keyed upsert into a parquet warehouse (MERGE emulation).

The reference's sink gets idempotent-upsert semantics from BigQuery insertIds
(``src/bq.js:49``); parquet has no MERGE, so the engine emulates Delta's
``MERGE WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT`` with the classic
anti-join + union rewrite, scoped to only the partitions the update batch
touches:

1. partition-prune the target to the update batch's ``event_date`` range,
2. anti-join those partitions against the update keys (drop stale rows),
3. union the fresh rows, rewrite ONLY those partitions (dynamic overwrite).

At 100 TB this is the standard pattern: cost is proportional to touched
partitions, not table size. (With Delta/Iceberg on the classpath you'd call
MERGE INTO and get the same plan plus ACID.)

Contract: ``updates`` is materialized internally before any file mutation,
so deriving it from the target itself (read-modify-write) is safe WITHIN a
call. A DataFrame handle kept across calls goes stale once its underlying
files are rewritten — re-derive updates per call (snapshot isolation across
calls is exactly what Delta/Iceberg add).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drive_health_etl_spark.session import spark_conf


class ConcurrentWriteError(RuntimeError):
    """Another merge/compact writer holds the table lock."""


LOCK_TTL_SECONDS = 600.0


@contextmanager
def warehouse_write_lock(target_path: str, ttl: float = LOCK_TTL_SECONDS):
    """Single-writer fence for the read-modify-write table rewrites
    (merge/compact/rollup): an atomically-created ``_merge.lock`` file in
    the table directory (O_CREAT|O_EXCL — POSIX-atomic on one filesystem).
    A second writer fails fast with :class:`ConcurrentWriteError` instead
    of interleaving its anti-join snapshot with the first writer's
    overwrite (lost-update). Locks older than ``ttl`` are presumed crashed
    and broken. This is the filesystem-emulation of Delta/Iceberg's
    optimistic transaction log; on an object store without atomic create,
    use a real lock service or table format instead.

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


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key: str = "idempotency_key",
    partition_col: str = "event_date",
) -> None:
    """Upsert ``updates`` into the partitioned parquet table at
    ``target_path``: last-write-wins per key within touched partitions."""
    updates = updates.withColumn(partition_col, F.to_date("occurred_at")) if partition_col not in updates.columns else updates
    # Materialize updates FIRST: callers routinely derive the update batch
    # from the target itself (read-modify-write), and a lazy plan would read
    # the very files the overwrite below replaces.
    updates = updates.localCheckpoint(eager=True)
    touched = [r[0] for r in updates.select(partition_col).distinct().collect()]
    if not touched:
        return

    with warehouse_write_lock(target_path):
        # Empty dir (just created by the lock, or only _/. metadata files):
        # first write. Distinct from a corrupt-but-populated dir, which must
        # still propagate its read error.
        is_empty = not any(
            not f.startswith(("_", ".")) for f in os.listdir(target_path)
        )
        if is_empty:
            merged = updates
        else:
            target = spark.read.parquet(target_path)
            existing = target.filter(F.col(partition_col).isin(touched))
            keep = existing.join(updates.select(key).distinct(), key, "left_anti")
            merged = keep.unionByName(updates.select(*keep.columns))
            # The merged plan reads the very files the overwrite will
            # replace — materialize it (break lineage) before writing,
            # else the scan races the delete (FAILED_READ_FILE). Cost:
            # the touched partitions only.
            merged = merged.localCheckpoint(eager=True)
        with spark_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
            (
                merged.repartition(partition_col)
                .write.mode("overwrite")
                .partitionBy(partition_col)
                .parquet(target_path)
            )
