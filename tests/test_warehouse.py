"""Warehouse layout tests: partitioned/clustered write (S5), partition
pruning, approx-agg accuracy."""

from __future__ import annotations

from pyspark.sql import functions as F

from drive_health_etl_spark.operators.ingest import ingest, write_warehouse
from drive_health_etl_spark.plans.extended import a5_approx_stats
from drive_health_etl_spark.sources import envelopes
from drive_health_etl_spark.sources.tables import load_table


def test_partitioned_write_and_pruning(spark, sf_dir, tmp_path):
    out = str(tmp_path / "wh")
    res = ingest(envelopes.messages_from_events(spark, sf_dir), normalize_phones=False)
    write_warehouse(res.warehouse, out)

    wh = spark.read.parquet(out)
    n_parts = wh.select("event_date").distinct().count()
    assert n_parts == 30  # one partition per event day

    # partition pruning: a date predicate must reach PartitionFilters
    pruned = wh.filter(F.col("event_date") == "2024-01-15")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan.split("PartitionFilters", 1)[1][:200]
    assert 0 < pruned.count() < wh.count()


def test_approx_stats_accuracy(spark, sf_dir):
    row = a5_approx_stats(spark, sf_dir).collect()[0]
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.agg(
        F.countDistinct("l_orderkey").alias("n"),
        F.expr("round(percentile(l_extendedprice, 0.5), 6)").alias("p50"),
    ).collect()[0]
    # the query now emits exact values + in-engine tolerance flags
    assert row["n_orders"] == exact["n"]
    assert row["p50_price"] == exact["p50"]
    assert row["nd_ok"] and row["pctl_ok"]
