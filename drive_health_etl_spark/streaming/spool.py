"""Spool-and-drain: the one scaffold behind every availableNow streaming check.

The reference proves its pipeline by publishing a batch of messages, waiting
for the stream to process them and checking the result with SQL. The
``st_*`` queries and ``tools/stream_scale_probe.py`` do the same in three
steps:

1. ``scratch``: a temp dir for the spool, checkpoint and any file sink,
   removed in a ``finally``, with the drain's shuffle-partition policy
   applied for its lifetime;
2. ``spool``: write the input as one parquet file per micro-batch;
3. ``drain``: one ``availableNow`` run that reads the spool one file per
   trigger, into a memory sink or a caller's ``foreachBatch``.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from drive_health_etl_spark.session import shuffle_partitions

# Stateful-streaming cost at this scale is per-partition state-store and
# Python-worker setup, not data volume (32 partitions measured 10-15x slower
# on a cold session); results are partitioning-independent.
_DRAIN_SHUFFLE_PARTITIONS = 8
_BATCH_KEY = "_spool_batch"


@contextmanager
def scratch(spark: SparkSession, prefix: str = "dhe_stream_") -> Iterator[str]:
    """Yield a fresh temp dir under the drain's shuffle-partition policy.
    The dir is removed when the block exits, also when it raises, so read
    anything kept from a file sink (``localCheckpoint``) inside the block."""
    path = tempfile.mkdtemp(prefix=prefix)
    try:
        with shuffle_partitions(spark, _DRAIN_SHUFFLE_PARTITIONS):
            yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def spool(df: DataFrame, batch: Column, path: str) -> DataFrame:
    """Write ``df`` to ``path`` as one file per micro-batch and return a
    stream over it that reads one file per trigger.

    ``batch`` gives each row's integer batch index; it is not written.
    Batches drain in index order and an index with no rows writes no file.
    One Spark job writes every batch (a ``coalesce(1)`` write partitioned by
    the index); each file is then moved to ``batch_{i:03d}.parquet`` with a
    strictly increasing mtime, because the file source orders new files by
    mtime and a tie could reorder two micro-batches."""
    stage = os.path.join(path, "_stage")
    df.withColumn(_BATCH_KEY, batch).coalesce(1).write.partitionBy(_BATCH_KEY).parquet(stage)
    t0 = int(os.stat(stage).st_mtime)
    dirs = glob.glob(os.path.join(stage, f"{_BATCH_KEY}=*"))
    for i in sorted(int(d.rsplit("=", 1)[1]) for d in dirs):
        (part,) = glob.glob(os.path.join(stage, f"{_BATCH_KEY}={i}", "part-*.parquet"))
        dst = os.path.join(path, f"batch_{i:03d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (t0 + i, t0 + i))
    shutil.rmtree(stage)
    return (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def drain(
    stream: DataFrame,
    scratch_dir: str,
    *,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    output_mode: str = "append",
) -> StreamingQuery:
    """Run ``stream`` to the end of its input (``availableNow``) and return
    the finished query. Without ``foreach_batch`` the rows land in a memory
    sink with a unique name, ``q.name``; its progress (``q.recentProgress``)
    carries the per-trigger timings and state-store sizes."""
    w = stream.writeStream.option("checkpointLocation", os.path.join(scratch_dir, "ckpt"))
    if foreach_batch is not None:
        w = w.foreachBatch(foreach_batch)
    else:
        w = w.format("memory").queryName(f"drain_{uuid.uuid4().hex[:8]}")
    q = w.outputMode(output_mode).trigger(availableNow=True).start()
    q.awaitTermination()
    return q
