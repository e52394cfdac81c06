"""Small-file packing invariance (ROADMAP direction C, first slice).

The session factory sets ``spark.sql.files.openCostInBytes`` to 1/32 of the
split size, so the many small files a micro-batch stream appends are packed
several to a scan task instead of one task each. Packing changes how many
files each task reads and in which partition a row lands, and with it the
``monotonically_increasing_id``-based ``arrival_seq`` of the ingest chain.
Results must not change: the verification reads and the ingest chain are
compared under the session default and under Spark's 4 MB default open cost
(one task per small file).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from drive_health_etl_spark.operators.ingest import ingest
from drive_health_etl_spark.schemas import RAW_MESSAGE_SCHEMA
from drive_health_etl_spark.session import spark_conf
from drive_health_etl_spark.sources import envelopes

# The reference's verification SQL over the streamed warehouse, as the
# benchmark's ingest workload runs it.
VERIFY_SQL = {
    "verify_partition_count": "SELECT COUNT(*) AS n FROM wh WHERE event_date = DATE '2024-03-02'",
    "verify_tenant_type_count": "SELECT tenant_id, event_type, COUNT(*) AS n FROM wh GROUP BY tenant_id, event_type",
    "verify_duplicate_keys": "SELECT idempotency_key, COUNT(*) AS n FROM wh GROUP BY idempotency_key HAVING COUNT(*) > 1",
    "verify_json_extract": (
        "SELECT tenant_id, COUNT(get_json_object(payload, '$.caller')) AS callers,"
        " COUNT(get_json_object(payload, '$.from_phone')) AS senders FROM wh GROUP BY tenant_id"
    ),
    "verify_sampling_rate": "SELECT AVG(CAST(sampled AS DOUBLE)) AS rate FROM wh",
}

SPARK_DEFAULT_OPEN_COST = {"spark.sql.files.openCostInBytes": str(4 * 1024 * 1024)}
N_DAYS = 40


def _raw_messages(spark, sf_dir):
    """Event-derived messages plus the fixture corpus (duplicates, malformed)
    and a redelivery of some duplicates, so first-write-wins has cross-file
    collisions to resolve."""
    fixture = envelopes.fixture_df(
        spark, envelopes.fixture_messages() + envelopes.duplicate_messages(copies=2)
    )
    return envelopes.messages_from_events(spark, sf_dir).unionByName(fixture)


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _warehouse_of_small_files(spark, sf_dir, path):
    """A day-partitioned warehouse of N_DAYS small files in four appends,
    the shape a micro-batch stream leaves: one file per (append, day)."""
    rows = (
        ingest(_raw_messages(spark, sf_dir)).warehouse.withColumn(
            "slot", F.pmod(F.hash("idempotency_key"), F.lit(N_DAYS))
        )
        # 2024-02-20 + slot: the days around the verification date
        .withColumn("event_date", F.date_add(F.lit("2024-02-20").cast("date"), F.col("slot")))
        .localCheckpoint()
    )
    for i in range(4):
        (
            rows.filter(F.col("slot") % 4 == i)
            .repartition(N_DAYS // 4, "slot")
            .drop("slot")
            .write.mode("append")
            .partitionBy("event_date")
            .parquet(path)
        )


def test_streamed_warehouse_reads_pack_and_agree(spark, sf_dir, tmp_path):
    wh = str(tmp_path / "wh")
    _warehouse_of_small_files(spark, sf_dir, wh)
    cores = spark.sparkContext.defaultParallelism
    assert len(spark.read.parquet(wh).inputFiles()) == N_DAYS

    def verify():
        df = spark.read.parquet(wh)
        df.createOrReplaceTempView("wh")
        out = {name: _sorted_rows(spark.sql(sql)) for name, sql in VERIFY_SQL.items()}
        return df.rdd.getNumPartitions(), out

    packed_parts, packed = verify()
    with spark_conf(spark, SPARK_DEFAULT_OPEN_COST):
        file_parts, per_file = verify()
    # below N_DAYS cores the two runs read the files in different splits
    assert packed_parts <= min(cores, N_DAYS) and file_parts == N_DAYS
    assert packed == per_file
    assert packed["verify_partition_count"][0][0] > 0
    assert packed["verify_duplicate_keys"] == []


def test_ingest_over_small_files_is_packing_invariant(spark, sf_dir, tmp_path):
    src = str(tmp_path / "raw")
    _raw_messages(spark, sf_dir).repartition(24).write.parquet(src)

    def run():
        raw = spark.read.schema(RAW_MESSAGE_SCHEMA).parquet(src)
        res = ingest(raw)
        return raw.rdd.getNumPartitions(), {
            "warehouse": _sorted_rows(res.warehouse.drop("received_at")),
            "dlq": _sorted_rows(res.dlq),
            "sampled_out": _sorted_rows(res.sampled_out),
        }

    packed_parts, packed = run()
    with spark_conf(spark, SPARK_DEFAULT_OPEN_COST):
        file_parts, per_file = run()
    assert packed_parts <= min(spark.sparkContext.defaultParallelism, 24) and file_parts == 24
    assert packed == per_file
    assert len(packed["dlq"]) == 5 and packed["warehouse"]
