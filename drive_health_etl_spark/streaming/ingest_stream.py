"""Structured Streaming wrapper around the batch ingest chain (SURVEY.md §2.8).

The reference's micro-batcher (``src/batchProcessor.js:108-119``: flush at
MAX_BATCH_SIZE or MAX_BATCH_WAIT_MS) *is* Structured Streaming's execution
model — triggers control latency/size (ST1), checkpoints give at-least-once
replay of failed micro-batches (ST4), ``query.stop()`` replaces the SIGTERM
flush (ST2). Per-request promises vanish; per-row outcomes are columns.

Exactly-once (ST3, the BigQuery insertId semantics of ``src/bq.js:49``):
in-batch first-write-wins dedup (the batch chain's window) plus a
cross-batch anti-join against warehouse keys already written for the
incoming batch's *event-time range* (± ``dedup_horizon_days`` slack). A
redelivered message carries its original ``occurred_at``, so only warehouse
day-partitions overlapping the batch's event dates can contain its key —
the anti-join build side is partition-pruned to those days (watermark-style
bounded state; at 100 TB the read never touches cold partitions).

DLQ branch (ST5): terminal rows append to a side parquet sink in the same
``foreachBatch`` transaction scope. Replay (ST6/ST7) is the batch job in
``operators.dlq`` pointed at the DLQ directory.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from drive_health_etl_spark.operators.ingest import ingest, write_warehouse
from drive_health_etl_spark.schemas import RAW_MESSAGE_SCHEMA
from drive_health_etl_spark.session import broadcast_if_small


@dataclass
class StreamIngestConfig:
    input_path: str
    warehouse_path: str
    dlq_path: str
    checkpoint_path: str
    audit_rate: float = 1.0
    normalize_phones: bool = True
    dedup_horizon_days: int = 7
    max_files_per_trigger: int | None = None  # backpressure (ST1 size trigger)
    # "parquet": input_path holds RAW_MESSAGE_SCHEMA parquet (batch-shaped
    # replay input). "envelope": input_path is an HTTP-push spool directory
    # read through the custom Python DataSource (S1 as a first-class source;
    # sources/envelope_source.py) — same rows, same downstream chain.
    source_format: str = "parquet"


def dedup_against_warehouse(
    spark: SparkSession,
    warehouse_path: str,
    rows: DataFrame,
    horizon_days: int = 7,
) -> DataFrame:
    """Cross-run exactly-once guard (BigQuery insertId semantics,
    ``src/bq.js:49``): drop incoming rows whose idempotency_key already
    exists in the warehouse's overlapping event-date partitions. Shared by
    the streaming sink and the DLQ replay job.

    The duplicates are found with a left_semi of the pruned warehouse key
    scan against the batch's keys, then dropped with a left_anti of the
    batch against that duplicate set. Both build sides are batch-bounded,
    but the planner estimates the duplicate set at warehouse size, so both
    go through ``broadcast_if_small`` sized by the batch's row count. For
    the steady-state micro-batch both joins broadcast: warehouse bytes
    touched, one key-column scan; warehouse bytes SHUFFLED, zero (round-8:
    st_ingest_stream paid ~35x per-row vs batch at sf1, dominated by
    per-batch shuffles of warehouse keys). A batch past the broadcast
    threshold (an availableNow backlog drain) shuffles both joins, where
    the shuffle is amortized over the rows.

    The warehouse is read once, with a declared schema of just the two
    columns used here, so a micro-batch runs no schema-inference job. A
    Hadoop FileSystem existence check guards the read (warehouses are not
    always local): only a missing path means "first batch, nothing to
    dedup against". Any other read error (a corrupt footer, a permission
    error) fails the batch rather than letting duplicates land.
    """
    path = spark._jvm.org.apache.hadoop.fs.Path(warehouse_path)
    if not path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):
        return rows  # first batch: warehouse doesn't exist yet
    stats = rows.agg(
        F.min("event_date").alias("lo"),
        F.max("event_date").alias("hi"),
        F.count("*").alias("n"),
    ).collect()[0]
    if stats["lo"] is None:
        return rows  # empty batch
    wh_keys = (
        spark.read.schema("idempotency_key string, event_date date")
        .parquet(warehouse_path)
        .filter(
            (F.col("event_date") >= F.date_sub(F.lit(stats["lo"]), horizon_days))
            & (F.col("event_date") <= F.date_add(F.lit(stats["hi"]), horizon_days))
        )
        .select("idempotency_key")
    )
    keys = broadcast_if_small(rows.select("idempotency_key"), stats["n"])
    dup = wh_keys.join(keys, "idempotency_key", "left_semi")
    return rows.join(broadcast_if_small(dup, stats["n"]), "idempotency_key", "left_anti")


def _process_batch(cfg: StreamIngestConfig):
    def inner(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        # Multi-sink foreachBatch: persist the decoded+validated PARENT of
        # the warehouse/DLQ branches (not the raw batch) — decode+validate
        # then runs once per micro-batch instead of once per sink branch
        # (round-8 profile: the DLQ branch's recompute was ~1.8 s of a
        # ~7.4 s micro-batch at sf0.1).
        res = ingest(batch, audit_rate=cfg.audit_rate, normalize_phones=cfg.normalize_phones)
        res.validated.persist()
        rows_base = None
        try:
            rows_base = res.warehouse.withColumn("event_date", F.to_date("occurred_at"))
            rows_base.persist()
            rows = dedup_against_warehouse(
                spark, cfg.warehouse_path, rows_base, horizon_days=cfg.dedup_horizon_days
            )
            write_warehouse(rows, cfg.warehouse_path)
            if res.dlq.limit(1).count() > 0:
                res.dlq.withColumn("epoch_id", F.lit(epoch_id)).write.mode("append").parquet(
                    cfg.dlq_path
                )
        finally:
            res.validated.unpersist()
            if rows_base is not None:
                # unpersist the frame that was actually persisted — the
                # post-dedup frame is a different plan and unpersisting it
                # would leak the cached base until session end
                rows_base.unpersist()

    return inner


def start_stream_ingest(spark: SparkSession, cfg: StreamIngestConfig, available_now: bool = True) -> StreamingQuery:
    """Start the streaming ingest. ``available_now=True`` processes the
    backlog then stops (batch-replay mode — also what tests use); otherwise
    the query follows new files indefinitely."""
    if cfg.source_format == "envelope":
        from drive_health_etl_spark.sources.envelope_source import register_envelope_source

        register_envelope_source(spark)
        raw = (
            spark.readStream.format("envelope").option("path", cfg.input_path).load()
        )
    else:
        reader = (
            spark.readStream.schema(RAW_MESSAGE_SCHEMA)
            .format("parquet")
        )
        if cfg.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", cfg.max_files_per_trigger)
        raw = reader.load(cfg.input_path)

    writer = (
        raw.writeStream.foreachBatch(_process_batch(cfg))
        .option("checkpointLocation", cfg.checkpoint_path)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
