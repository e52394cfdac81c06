from __future__ import annotations

from pyspark.sql import functions as F

from drive_health_etl_spark.operators.ingest import ingest, write_warehouse
from drive_health_etl_spark.operators.rollup import refresh_rollup, rollup_totals
from drive_health_etl_spark.sources import envelopes


def test_incremental_rollup_matches_full_recompute(spark, sf_dir, tmp_path):
    wh = str(tmp_path / "wh")
    rollup = str(tmp_path / "rollup")
    res = ingest(envelopes.messages_from_events(spark, sf_dir), normalize_phones=False)
    rows = res.warehouse.cache()
    # initial load: first 20 days only
    first = rows.filter(F.to_date("occurred_at") < "2024-01-21")
    write_warehouse(first, wh)
    n1 = refresh_rollup(spark, wh, rollup)
    assert n1 == 20

    # late batch arrives for days 21..30 -> append + incremental refresh
    late = rows.filter(F.to_date("occurred_at") >= "2024-01-21")
    write_warehouse(late, wh)
    touched = [r[0] for r in late.select(F.to_date("occurred_at").alias("d")).distinct().collect()]
    n2 = refresh_rollup(spark, wh, rollup, touched_dates=touched)
    assert n2 == 10

    # rollup-served totals == recompute from the fact table
    got = {
        (r["tenant_id"], r["event_type"]): (r["event_count"], r["sampled_count"])
        for r in rollup_totals(spark, rollup).collect()
    }
    expected = {
        (r["tenant_id"], r["event_type"]): (r["cnt"], r["s"])
        for r in spark.read.parquet(wh)
        .groupBy("tenant_id", "event_type")
        .agg(F.count("*").alias("cnt"), F.sum(F.col("sampled").cast("long")).alias("s"))
        .collect()
    }
    assert got == expected

    # re-refreshing a touched day is idempotent (replace, not double-count)
    refresh_rollup(spark, wh, rollup, touched_dates=touched[:3])
    got2 = {
        (r["tenant_id"], r["event_type"]): (r["event_count"], r["sampled_count"])
        for r in rollup_totals(spark, rollup).collect()
    }
    assert got2 == expected

    # a FULL rebuild drops rollup partitions for days the warehouse no
    # longer has (retention expiry simulation)
    import shutil

    for d in sorted(p for p in __import__("os").listdir(wh) if p.startswith("event_date="))[:5]:
        shutil.rmtree(f"{wh}/{d}")
    n_full = refresh_rollup(spark, wh, rollup)
    assert n_full == 25
    assert spark.read.parquet(rollup).select("event_date").distinct().count() == 25
    rows.unpersist()
