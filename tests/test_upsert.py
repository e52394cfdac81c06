"""The single-writer table lock (``warehouse_write_lock``), seen through a
writer that takes it: ``commit_snapshot``."""

from __future__ import annotations

import os
import time

import pytest

from drive_health_etl_spark.operators.snapshots import commit_snapshot, list_snapshots, read_snapshot
from drive_health_etl_spark.operators.upsert import ConcurrentWriteError, warehouse_write_lock


def test_merge_lock_blocks_concurrent_writer(spark, tmp_path):
    table = str(tmp_path / "t")
    with warehouse_write_lock(table):  # first writer holds the table
        with pytest.raises(ConcurrentWriteError):
            commit_snapshot(spark.range(10), table)
    assert list_snapshots(table) == []
    commit_snapshot(spark.range(10), table)  # lock released -> proceeds
    assert list_snapshots(table) == [1]


def test_merge_lock_breaks_stale_lock(spark, tmp_path):
    table = str(tmp_path / "t")
    lock = table + "._merge.lock"
    with open(lock, "w") as f:
        f.write("{}")
    old = time.time() - 4000
    os.utime(lock, (old, old))  # crashed writer from over an hour ago

    commit_snapshot(spark.range(10), table)  # stale lock broken, commit succeeds
    assert not os.path.exists(lock)
    assert read_snapshot(spark, table).count() == 10
