"""DLQ replay + parking lot (SURVEY.md §3.3; reference ``src/replay-dlq-job.js``).

The reference's replay job pulls DLQ messages, increments a per-message
attempt counter carried in attributes, republisches to the main topic, and
parks messages that exceed ``MAX_REPLAY_ATTEMPTS`` (3). Spark-first this is a
batch routing job: one narrow pass, two outputs, no shuffle.

Attribute hygiene (F13): drop ``googclient_*`` and the old counter, then add
tracking attrs — ``map_filter`` + ``map_concat``, all JVM-side.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_REPLAY_ATTEMPTS = 3  # src/replay-dlq-job.js:14


def _attempts(df: DataFrame) -> F.Column:
    """Current attempt count: explicit column, else the ``x-replay-attempts``
    attribute, else 0 (``src/replay-dlq-job.js:23``)."""
    if "attempts" in df.columns:
        return F.coalesce(F.col("attempts"), F.lit(0))
    return F.coalesce(F.col("attributes").getItem("x-replay-attempts").cast("int"), F.lit(0))


def clean_attributes(attrs: F.Column) -> F.Column:
    """Drop googclient_* delivery metadata and the old counter (F13,
    ``src/replay-dlq-job.js:29-39``)."""
    return F.map_filter(
        attrs,
        lambda k, _v: (~k.startswith("googclient_")) & (k != F.lit("x-replay-attempts")),
    )


@dataclass
class ReplayResult:
    replay: DataFrame  # attempts+1, back to the ingest input
    parked: DataFrame  # attempts >= MAX -> parking lot with reason attrs


@dataclass
class ReplayJobStats:
    n_replayed: int
    n_parked: int
    n_recovered: int  # replayed rows that ingested successfully this cycle
    n_requeued: int  # replayed rows that failed again -> back in DLQ


def route_dlq(dlq: DataFrame, max_attempts: int = MAX_REPLAY_ATTEMPTS) -> ReplayResult:
    """Split DLQ into replayable vs parked (``src/replay-dlq-job.js:81-92``).

    Ordering keys are carried through untouched (ST7). Replayed messages get
    ``x-replay-attempts`` incremented (F14); parked messages get
    ``x-parked-reason``/``x-original-attempts`` tracking attributes
    (``src/replay-dlq-job.js:42-47``).
    """
    attempts = _attempts(df=dlq)
    base = dlq.withColumn("_attempts", attempts)
    cleaned = clean_attributes(F.coalesce(F.col("attributes"), F.create_map().cast("map<string,string>")))

    replay = (
        base.filter(F.col("_attempts") < max_attempts)
        .withColumn(
            "attributes",
            F.map_concat(
                cleaned,
                F.create_map(
                    F.lit("x-replay-attempts"), (F.col("_attempts") + 1).cast("string")
                ),
            ),
        )
        .withColumn("attempts", (F.col("_attempts") + 1))
        .drop("_attempts")
    )
    parked = (
        base.filter(F.col("_attempts") >= max_attempts)
        .withColumn(
            "attributes",
            F.map_concat(
                cleaned,
                F.create_map(
                    F.lit("x-parked-reason"), F.lit("max-replay-attempts-exceeded"),
                    F.lit("x-original-attempts"), F.col("_attempts").cast("string"),
                ),
            ),
        )
        .withColumn("attempts", F.col("_attempts"))
        .drop("_attempts")
    )
    return ReplayResult(replay=replay, parked=parked)


def run_replay_job(
    spark,
    dlq_path: str,
    warehouse_path: str,
    parking_path: str,
    max_attempts: int = MAX_REPLAY_ATTEMPTS,
    audit_rate: float = 1.0,
) -> ReplayJobStats:
    """The full replay cycle of ``src/replay-dlq-job.js:121-147`` as one batch
    job: read DLQ -> route (attempts cap) -> re-ingest replayable messages
    through the SAME ingest chain -> append recovered rows to the warehouse,
    requeue still-failing ones (attempt counter kept), park the rest.

    The reference acks a DLQ message only after successful republish
    (no-loss, ``docs/dlq-replay.md:13``); batch-side the equivalent is: the
    DLQ dir is rewritten LAST, only after warehouse/parking appends land.
    """
    from drive_health_etl_spark.operators.ingest import ingest, write_warehouse

    dlq = spark.read.parquet(dlq_path)
    routed = route_dlq(dlq, max_attempts=max_attempts)
    routed.replay.persist()
    routed.parked.persist()

    res = ingest(
        routed.replay.select("data", "attributes", "message_id", "ordering_key"),
        audit_rate=audit_rate,
    )
    # both the warehouse and requeue branches filter res.validated — persist
    # the parent so decode+validate runs once (round-8 streaming profile)
    res.validated.persist()
    # Cross-run exactly-once: a crash/rerun between the warehouse append and
    # the DLQ rewrite below would re-ingest the same messages — the same
    # event-date-pruned existing-keys anti-join the streaming sink uses makes
    # the append idempotent (reference: BigQuery insertId, src/bq.js:49).
    from drive_health_etl_spark.streaming.ingest_stream import dedup_against_warehouse

    recovered = res.warehouse.withColumn("event_date", F.to_date("occurred_at"))
    recovered = dedup_against_warehouse(spark, warehouse_path, recovered)
    recovered.persist()
    n_replayed = routed.replay.count()
    n_parked = routed.parked.count()
    n_recovered = recovered.count()

    if n_recovered:
        write_warehouse(recovered, warehouse_path)
    if n_parked:
        routed.parked.write.mode("append").parquet(parking_path)

    # still-terminal messages go back to the DLQ with their incremented
    # attempt counters (next cycle parks them once they hit the cap)
    requeued = routed.replay.join(res.dlq.select("message_id"), "message_id", "left_semi")
    n_requeued = requeued.count()
    requeued = requeued.localCheckpoint(eager=True)  # DLQ dir is about to be rewritten
    requeued.write.mode("overwrite").parquet(dlq_path)

    for df in (routed.replay, routed.parked, recovered, res.validated):
        df.unpersist()
    return ReplayJobStats(
        n_replayed=n_replayed,
        n_parked=n_parked,
        n_recovered=n_recovered,
        n_requeued=n_requeued,
    )
