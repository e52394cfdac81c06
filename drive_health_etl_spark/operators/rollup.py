"""Incremental materialized rollup maintenance.

The reference's monitoring layer repeatedly re-runs
``GROUP BY tenant_id, event_type`` aggregates over the warehouse
(``src/load-test.js:135``, ``docs/monitoring.md``); at 100 TB those become
full-table scans. The standard fix: maintain a day-grained rollup table
(tenant_id, event_type, event_date, n_events, sum-state) and refresh ONLY
the partitions a new batch touched — count/sum states are decomposable, so
per-day partials recomputed from one day's data replace that day's rollup
rows exactly (dynamic partition overwrite again).

Any coarser aggregate (per-tenant totals, monthly counts) folds from the
rollup without touching the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drive_health_etl_spark.session import spark_conf

ROLLUP_KEYS = ("event_date", "tenant_id", "event_type")


def _day_rollup(rows: DataFrame) -> DataFrame:
    # n_keys (exact COUNT DISTINCT) is correct per-day but NOT re-aggregable
    # across days; tenant_sketch carries the mergeable distinct-count state
    # (DataSketches HLL binary) so any date-range distinct query folds from
    # the rollup via hll_union_agg without touching the fact table.
    return rows.groupBy(*ROLLUP_KEYS).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("sampled").cast("long")).alias("n_sampled"),
        F.countDistinct("idempotency_key").alias("n_keys"),
        F.hll_sketch_agg("tenant_id").alias("tenant_sketch"),
    )


def refresh_rollup(
    spark: SparkSession,
    warehouse_path: str,
    rollup_path: str,
    touched_dates: list | None = None,
) -> int:
    """Refresh the rollup for ``touched_dates`` (None = detect nothing and
    rebuild everything — first run). Returns number of refreshed partitions.

    Reading the fact table prunes to the touched day-partitions; the rewrite
    replaces only those rollup partitions."""
    wh = spark.read.parquet(warehouse_path)
    if touched_dates is not None:
        wh = wh.filter(F.col("event_date").isin(touched_dates))
    rolled = _day_rollup(wh).localCheckpoint(eager=True)
    n_parts = rolled.select("event_date").distinct().count()
    # Incremental refresh replaces only touched partitions (dynamic);
    # a full rebuild must replace the WHOLE table (static) — dynamic would
    # leave stale rollup partitions for days the warehouse no longer has
    # (e.g. after retention expiry).
    mode = "dynamic" if touched_dates is not None else "static"
    from drive_health_etl_spark.operators.upsert import warehouse_write_lock

    with warehouse_write_lock(rollup_path), spark_conf(
        spark, {"spark.sql.sources.partitionOverwriteMode": mode}
    ):
        (
            rolled.repartition("event_date")
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(rollup_path)
        )
    return n_parts


def rollup_totals(spark: SparkSession, rollup_path: str) -> DataFrame:
    """The reference's verification aggregate served FROM the rollup —
    per-(tenant, event_type) totals without scanning the fact table."""
    r = spark.read.parquet(rollup_path)
    return r.groupBy("tenant_id", "event_type").agg(
        F.sum("n_events").alias("event_count"),
        F.sum("n_sampled").alias("sampled_count"),
    )


# --- registered query -------------------------------------------------------


def rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance, end to end: build the
    day-rollup from an initial warehouse load (even-numbered days), append a
    second batch (odd days), refresh ONLY the partitions that batch touched,
    then serve per-(tenant, event_type) totals FROM the rollup. The oracle
    aggregates the raw events directly — if the incremental refresh dropped,
    duplicated, or left a stale partition, the totals diverge. The
    touched-dates list is driver-side but O(days in the batch) (bounded
    metadata, same as the upsert partition pruning).

    The warehouse here is a deterministic projection of ``events`` (tenant
    from ``user_id % 20``) so the oracle is plain SQL; the production chain
    uses the ingest-derived warehouse with the same refresh call
    (``tests/test_rollup.py``)."""
    import shutil
    import tempfile

    from drive_health_etl_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("event_date"),
        F.concat(F.lit("t"), F.pmod(F.col("user_id"), F.lit(20)).cast("string")).alias(
            "tenant_id"
        ),
        "event_type",
        (F.col("value") > 0).alias("sampled"),
        F.col("event_id").cast("string").alias("idempotency_key"),
    )
    wh = tempfile.mkdtemp(prefix="dhe_ri_wh_")
    ru = tempfile.mkdtemp(prefix="dhe_ri_ru_")
    shutil.rmtree(wh, ignore_errors=True)
    shutil.rmtree(ru, ignore_errors=True)
    try:
        batch1 = e.filter(F.dayofmonth(F.col("event_date")) % 2 == 0)
        batch2 = e.filter(F.dayofmonth(F.col("event_date")) % 2 == 1)
        batch1.write.partitionBy("event_date").parquet(wh)
        refresh_rollup(spark, wh, ru)  # initial full build
        batch2.write.mode("append").partitionBy("event_date").parquet(wh)
        touched = [
            r["event_date"] for r in batch2.select("event_date").distinct().collect()
        ]  # bounded: one row per day in the batch
        refresh_rollup(spark, wh, ru, touched_dates=touched)
        return rollup_totals(spark, ru).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(wh, ignore_errors=True)
        shutil.rmtree(ru, ignore_errors=True)


ROLLUP_INCREMENTAL_SQL = """
SELECT 't' || CAST(user_id % 20 AS VARCHAR) AS tenant_id, event_type,
       COUNT(*) AS event_count,
       CAST(SUM(CASE WHEN value > 0 THEN 1 ELSE 0 END) AS BIGINT) AS sampled_count
FROM events
GROUP BY 1, 2
"""


QUERIES: dict[str, tuple] = {
    "rollup_incremental": (rollup_incremental, ROLLUP_INCREMENTAL_SQL),
}
