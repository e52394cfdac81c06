"""The spool-and-drain helper behind the ``st_*`` streaming checks: one
write job for all micro-batches, batches drained in index order with empty
ones skipped, the shuffle-partition policy scoped to the block, and the
scratch dir removed on success and on failure."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from drive_health_etl_spark.streaming.spool import drain, scratch, spool
from tests.conftest import group_jobs


def _relation(spark):
    # batch indexes {0, 2, 3}; index 1 has no rows
    return spark.range(40).select(
        "id", F.when(F.col("id") < 10, 0).when(F.col("id") < 25, 2).otherwise(3).alias("b")
    )


def test_spool_drains_batches_in_order_in_one_job(spark):
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    epochs: list[list[int]] = []

    def record(batch_df, _epoch_id):
        epochs.append(sorted({r["b"] for r in batch_df.select("b").collect()}))

    with scratch(spark) as tmp:
        streams = []
        jobs = group_jobs(
            spark,
            "test-spool",
            lambda: streams.append(spool(_relation(spark), F.col("b"), f"{tmp}/src")),
        )
        assert len(jobs) == 1, jobs
        drain(streams[0], tmp, foreach_batch=record)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert epochs == [[0], [2], [3]]
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior
    assert not os.path.exists(tmp)


def test_scratch_removed_when_drain_raises(spark):
    prior = spark.conf.get("spark.sql.shuffle.partitions")

    def fail(_batch_df, _epoch_id):
        raise ValueError("operator failed")

    with pytest.raises(Exception, match="operator failed"):
        with scratch(spark) as tmp:
            drain(spool(_relation(spark), F.col("b"), f"{tmp}/src"), tmp, foreach_batch=fail)
    assert not os.path.exists(tmp)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior
