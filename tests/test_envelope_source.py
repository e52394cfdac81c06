"""Custom envelope DataSource (S1 as a first-class Spark 4 Python source):
batch reads distribute per spool file; streaming offsets advance per file and
survive checkpoint restarts; the rows feed the unchanged ingest chain."""

from __future__ import annotations

from drive_health_etl_spark.sources import envelopes
from drive_health_etl_spark.sources.envelope_source import (
    register_envelope_source,
    write_spool_file,
)


def test_batch_read_distributes_per_file(spark, tmp_path):
    spool = str(tmp_path / "spool")
    write_spool_file(spool, envelopes.smoke_messages(), "000001.jsonl")
    write_spool_file(spool, envelopes.malformed_messages(), "000002.jsonl")
    register_envelope_source(spark)

    df = spark.read.format("envelope").option("path", spool).load()
    assert df.columns == ["data", "attributes", "message_id", "ordering_key"]
    assert df.count() == len(envelopes.smoke_messages()) + len(envelopes.malformed_messages())
    assert df.rdd.getNumPartitions() == 2  # one partition per spool file
    got = {r["message_id"] for r in df.collect()}
    assert "m-smoke-1" in got and "m-bad-json" in got


def test_batch_rows_feed_ingest_chain(spark, tmp_path):
    from drive_health_etl_spark.operators.ingest import ingest

    spool = str(tmp_path / "spool")
    write_spool_file(spool, envelopes.fixture_messages(), "000001.jsonl")
    register_envelope_source(spark)
    raw = spark.read.format("envelope").option("path", spool).load()
    res = ingest(raw, audit_rate=1.0)
    # same expectations as the parquet-shaped fixture: 3 smoke + 3 deduped
    # duplicate groups pass; 5 malformed route to DLQ
    assert res.warehouse.count() == 6
    assert res.dlq.count() == 5


def test_stream_ingest_from_envelope_source(spark, tmp_path):
    """S1 end-to-end as a STREAM: spool dir -> envelope DataSource ->
    checkpointed foreachBatch ingest chain -> warehouse parquet, across two
    drains (the second must process only the new spool file and dedup
    redelivered keys against the warehouse)."""
    from drive_health_etl_spark.streaming.ingest_stream import StreamIngestConfig, start_stream_ingest

    spool = str(tmp_path / "spool")
    cfg = StreamIngestConfig(
        input_path=spool,
        warehouse_path=str(tmp_path / "wh"),
        dlq_path=str(tmp_path / "dlq"),
        checkpoint_path=str(tmp_path / "ckpt"),
        source_format="envelope",
    )
    write_spool_file(spool, envelopes.smoke_messages(), "000001.jsonl")
    start_stream_ingest(spark, cfg, available_now=True).awaitTermination()
    first = spark.read.parquet(cfg.warehouse_path).count()
    assert first == len(envelopes.smoke_messages())

    # second drain: one new file, plus a redelivery of file 1 (same
    # idempotency keys) — only the genuinely new rows may land
    write_spool_file(spool, envelopes.smoke_messages(), "000002.jsonl")
    start_stream_ingest(spark, cfg, available_now=True).awaitTermination()
    assert spark.read.parquet(cfg.warehouse_path).count() == first


def test_stream_offsets_advance_per_file(spark, tmp_path):
    spool = str(tmp_path / "spool")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    write_spool_file(spool, envelopes.smoke_messages(), "000001.jsonl")
    register_envelope_source(spark)

    def drain():
        q = (
            spark.readStream.format("envelope")
            .option("path", spool)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert spark.read.parquet(out).count() == 3

    # new spool file after the first drain: restart from the checkpoint
    # processes ONLY the new file (offset = consumed-file count)
    write_spool_file(spool, envelopes.duplicate_messages(copies=2), "000002.jsonl")
    drain()
    ids = [r["message_id"] for r in spark.read.parquet(out).collect()]
    assert len(ids) == 3 + 6
    assert len(ids) == len(set(ids))  # no re-delivery of file 1


def test_envelope_writer_roundtrip(spark, tmp_path):
    """df.write.format('envelope') -> spool files -> envelope reader yields
    the identical rows (the sink twin of the source; rename-as-commit)."""
    import os

    from drive_health_etl_spark.sources.envelope_source import register_envelope_source

    register_envelope_source(spark)
    out = str(tmp_path / "spool_out")
    src_rows = [
        ("eyJhIjoxfQ==", {"tenant": "t1"}, "m-1", "k-1"),
        ("eyJiIjoyfQ==", {"tenant": "t2"}, "m-2", None),
        (None, {}, "m-3", "k-3"),
    ]
    df = spark.createDataFrame(
        src_rows, "data string, attributes map<string,string>, message_id string, ordering_key string"
    )
    df.repartition(2).write.format("envelope").option("path", out).mode("append").save()
    assert os.path.exists(os.path.join(out, "_SUCCESS"))

    back = spark.read.format("envelope").option("path", out).load()
    got = {
        (r["data"], tuple(sorted((r["attributes"] or {}).items())), r["message_id"], r["ordering_key"])
        for r in back.collect()
    }
    want = {
        (d, tuple(sorted((a or {}).items())), m, k) for d, a, m, k in src_rows
    }
    assert got == want
