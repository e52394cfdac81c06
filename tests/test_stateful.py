"""applyInPandasWithState: per-key state must accumulate ACROSS micro-batches
within one query run — proven by feeding the file source one file per
trigger and checking the final snapshots equal the batch aggregate."""

from __future__ import annotations

from pyspark.sql import functions as F

from drive_health_etl_spark.sources.tables import load_table
from drive_health_etl_spark.streaming.stateful import stateful_user_counters


def test_stateful_counters_accumulate_across_batches(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    # two separate files -> two micro-batches (maxFilesPerTrigger=1)
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    half1.coalesce(1).write.mode("append").parquet(src)
    half2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    q = (
        stateful_user_counters(stream)
        .writeStream.format("memory")
        .queryName("state_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # the LAST snapshot per user must match the full-batch aggregate
    out = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events DESC) AS rn
          FROM state_out
        ) WHERE rn = 1
        """
    )
    expected = events.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("total_value")
    )
    got = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in out.collect()}
    want = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in expected.collect()}
    assert got == want
    # and the stream really ran as two micro-batches, one per file
    assert sum(1 for p in q.recentProgress if p["numInputRows"] > 0) == 2
