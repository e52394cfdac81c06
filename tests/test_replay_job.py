"""Full replay-cycle job (§3.3): DLQ -> route -> re-ingest -> recover /
requeue / park, across multiple cycles until the DLQ drains."""

from __future__ import annotations

import base64
import json

from drive_health_etl_spark.operators.dlq import run_replay_job
from drive_health_etl_spark.operators.ingest import ingest
from drive_health_etl_spark.sources import envelopes


def _seed_dlq(spark, tmp_path):
    """DLQ with 2 permanently-bad messages and 1 'fixed upstream' message
    (valid envelope that only failed transiently before)."""
    good = envelopes._msg(
        envelopes._envelope(payload={"call_id": "recovered-1"}), "m-recover"
    )
    msgs = envelopes.malformed_messages()[:2] + [good]
    dlq_path = str(tmp_path / "dlq")
    df = envelopes.fixture_df(spark, msgs).withColumn("status", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("VALIDATION_ERROR"))
    df.write.mode("overwrite").parquet(dlq_path)
    return dlq_path


def test_replay_cycles_until_parked(spark, tmp_path):
    dlq_path = _seed_dlq(spark, tmp_path)
    wh = str(tmp_path / "wh")
    parking = str(tmp_path / "parking")

    # cycle 1: the valid message recovers; the 2 bad ones requeue (attempts=1)
    s1 = run_replay_job(spark, dlq_path, wh, parking)
    assert (s1.n_replayed, s1.n_recovered, s1.n_requeued, s1.n_parked) == (3, 1, 2, 0)
    assert spark.read.parquet(wh).count() == 1

    # cycles 2-3: bad ones keep failing, attempts 2 then 3
    s2 = run_replay_job(spark, dlq_path, wh, parking)
    assert (s2.n_replayed, s2.n_recovered, s2.n_requeued) == (2, 0, 2)
    s3 = run_replay_job(spark, dlq_path, wh, parking)
    assert (s3.n_replayed, s3.n_requeued) == (2, 2)

    # cycle 4: attempts hit the cap -> parked, DLQ drains
    s4 = run_replay_job(spark, dlq_path, wh, parking)
    assert s4.n_parked == 2 and s4.n_replayed == 0 and s4.n_requeued == 0
    parked = spark.read.parquet(parking)
    assert parked.count() == 2
    assert all(
        r["attributes"]["x-parked-reason"] == "max-replay-attempts-exceeded"
        for r in parked.collect()
    )
    assert spark.read.parquet(dlq_path).count() == 0
    assert spark.read.parquet(wh).count() == 1  # no duplicate recoveries


def test_replay_rerun_is_idempotent(spark, tmp_path):
    """Crash between warehouse append and DLQ rewrite = the same DLQ content
    replays again; the existing-keys anti-join must not duplicate warehouse
    rows (BigQuery insertId semantics, src/bq.js:49)."""
    dlq_path = _seed_dlq(spark, tmp_path)
    wh = str(tmp_path / "wh")
    parking = str(tmp_path / "parking")
    dlq_before = spark.read.parquet(dlq_path)
    dlq_before.persist().count()

    s1 = run_replay_job(spark, dlq_path, wh, parking)
    assert s1.n_recovered == 1 and spark.read.parquet(wh).count() == 1

    # simulate the crash: restore the DLQ to its pre-job content and rerun
    dlq_before.localCheckpoint(eager=True).write.mode("overwrite").parquet(dlq_path)
    s2 = run_replay_job(spark, dlq_path, wh, parking)
    assert s2.n_recovered == 0  # key already in the warehouse
    assert spark.read.parquet(wh).count() == 1
    dlq_before.unpersist()


def test_replay_writes_clustered_warehouse_files(spark, tmp_path):
    """Recovered rows go through the warehouse writer: one file per touched
    event_date, each sorted by (tenant_id, event_type) for row-group
    skipping — the layout the batch and streaming sinks write."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    msgs = [
        envelopes._msg(
            envelopes._envelope(
                tenant_id=f"org-{(7 * i) % 3}",
                event_type=("call.ended", "call.metadata")[i % 2],
                occurred_at=f"2024-03-0{1 + i % 3}T10:00:00.000Z",
                payload={"call_id": f"dlq-{i}"},
            ),
            f"m-{i}",
        )
        for i in range(36)
    ]
    dlq_path = str(tmp_path / "dlq")
    envelopes.fixture_df(spark, msgs).withColumn("status", F.lit("SINK_ERROR")).repartition(
        4
    ).write.parquet(dlq_path)
    wh = str(tmp_path / "wh")

    stats = run_replay_job(spark, dlq_path, wh, str(tmp_path / "parking"))
    assert stats.n_recovered == 36
    dates = sorted(glob.glob(f"{wh}/event_date=*"))
    assert len(dates) == 3
    for d in dates:
        (part,) = glob.glob(f"{d}/part-*.parquet")
        rows = pq.read_table(part, columns=["tenant_id", "event_type"]).to_pylist()
        keys = [(r["tenant_id"], r["event_type"]) for r in rows]
        assert len(keys) == 12 and keys == sorted(keys), d
