from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from drive_health_etl_spark.operators.snapshots import (
    commit_snapshot,
    list_snapshots,
    read_snapshot,
)


def _mkdf(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def test_append_versions_accumulate(spark, tmp_path):
    table = str(tmp_path / "t")
    v1 = commit_snapshot(_mkdf(spark, 0, 100), table)
    v2 = commit_snapshot(_mkdf(spark, 100, 150), table)
    assert (v1, v2) == (1, 2)
    assert list_snapshots(table) == [1, 2]
    assert read_snapshot(spark, table, 1).count() == 100
    assert read_snapshot(spark, table, 2).count() == 150
    assert read_snapshot(spark, table).count() == 150  # latest


def test_overwrite_keeps_old_versions_readable(spark, tmp_path):
    table = str(tmp_path / "t")
    commit_snapshot(_mkdf(spark, 0, 100), table)
    commit_snapshot(_mkdf(spark, 500, 510), table, mode="overwrite")
    # latest sees only the overwrite; v1 is untouched (immutable data files)
    assert sorted(r["k"] for r in read_snapshot(spark, table).collect()) == list(
        range(500, 510)
    )
    assert read_snapshot(spark, table, 1).count() == 100


def test_uncommitted_files_are_invisible(spark, tmp_path):
    """Data files without a published manifest must never appear in a read
    — the property that makes crashed writers harmless."""
    table = str(tmp_path / "t")
    commit_snapshot(_mkdf(spark, 0, 10), table)
    # simulate a crashed writer: data dir exists, no manifest published
    orphan = os.path.join(table, "data", "c99999")
    _mkdf(spark, 1000, 2000).write.parquet(orphan)
    assert read_snapshot(spark, table).count() == 10
    assert list_snapshots(table) == [1]


def test_bad_version_and_empty_table_raise(spark, tmp_path):
    table = str(tmp_path / "t")
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table)
    commit_snapshot(_mkdf(spark, 0, 10), table)
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, 7)


def test_concurrent_commit_is_fenced(spark, tmp_path):
    """A second writer holding the table lock must fail fast instead of
    clobbering the first writer's version allocation."""
    import os

    from drive_health_etl_spark.operators.upsert import ConcurrentWriteError

    table = str(tmp_path / "t")
    commit_snapshot(_mkdf(spark, 0, 10), table)
    lock = table.rstrip("/") + "._merge.lock"
    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)
    try:
        with pytest.raises(ConcurrentWriteError):
            commit_snapshot(_mkdf(spark, 10, 20), table)
    finally:
        os.unlink(lock)
    assert list_snapshots(table) == [1]
    commit_snapshot(_mkdf(spark, 10, 20), table)
    assert list_snapshots(table) == [1, 2]


def test_streaming_versioned_commits(spark, tmp_path):
    """Streaming ingestion into the versioned table: each micro-batch is one
    snapshot commit (foreachBatch -> commit_snapshot), so the table's
    version history IS the micro-batch history — replayable time travel
    over a stream, and the append manifests compose to the full corpus."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    table = str(tmp_path / "t")
    df = spark.range(0, 90).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    # three source files -> three micro-batches with maxFilesPerTrigger=1
    df.repartition(3).write.parquet(src)
    stream = spark.readStream.schema(df.schema).option(
        "maxFilesPerTrigger", 1
    ).format("parquet").load(src)
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, _id: commit_snapshot(batch, table)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    versions = list_snapshots(table)
    assert len(versions) == 3
    assert read_snapshot(spark, table).count() == 90  # latest = union of all
    per_version = [read_snapshot(spark, table, v).count() for v in versions]
    assert per_version == sorted(per_version)  # appends only grow
    assert per_version[0] < 90
