from __future__ import annotations

from pyspark.sql import functions as F

from drive_health_etl_spark.operators.skew import salted_join
from drive_health_etl_spark.sources.tables import load_table


def _skewed_events(spark, sf_dir):
    # 90% of rows collapse onto one hot tenant
    e = load_table(spark, sf_dir, "events")
    return e.withColumn(
        "tenant",
        F.when(F.col("event_id") % 10 < 9, F.lit("hot-tenant")).otherwise(
            F.concat(F.lit("t-"), (F.col("event_id") % 50).cast("string"))
        ),
    )


def _tenant_dim(spark, events):
    return (
        events.select("tenant").distinct().withColumn("region", F.substring("tenant", 1, 1))
    )


def test_salted_join_matches_plain_join(spark, sf_dir):
    events = _skewed_events(spark, sf_dir)
    dim = _tenant_dim(spark, events)
    plain = events.join(dim, "tenant").groupBy("tenant", "region").count()
    salted = salted_join(events, dim, "tenant", n_salts=8).groupBy("tenant", "region").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_outer_matches(spark, sf_dir):
    events = _skewed_events(spark, sf_dir)
    # dim missing the hot tenant -> left join keeps unmatched rows
    dim = _tenant_dim(spark, events).filter(F.col("tenant") != "hot-tenant")
    plain = events.join(dim, "tenant", "left").groupBy("region").count()
    salted = salted_join(events, dim, "tenant", n_salts=8, how="left").groupBy("region").count()
    key = lambda t: tuple(map(str, t))
    assert sorted(map(tuple, plain.collect()), key=key) == sorted(
        map(tuple, salted.collect()), key=key
    )


def test_salted_join_spreads_hot_key(spark, sf_dir):
    events = _skewed_events(spark, sf_dir)
    dim = _tenant_dim(spark, events)
    salted_big = events.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in events.columns]), F.lit(8))
    )
    # the hot key's rows actually land on multiple salts
    n_salts_used = (
        salted_big.filter(F.col("tenant") == "hot-tenant").select("_salt").distinct().count()
    )
    assert n_salts_used == 8


def test_salted_join_rejects_build_side_outer(spark, sf_dir):
    import pytest

    events = _skewed_events(spark, sf_dir)
    dim = _tenant_dim(spark, events)
    with pytest.raises(ValueError, match="inner/left only"):
        salted_join(events, dim, "tenant", how="full")


def test_salting_evens_partition_histogram(spark, sf_dir):
    """The measured claim behind salting: hash-partitioning on the raw key
    puts ~90% of rows in ONE shuffle partition; partitioning on (key, salt)
    bounds the largest partition near 1/n_salts of the hot key. This is the
    stage-size histogram a 1000-executor cluster lives or dies by."""
    events = _skewed_events(spark, sf_dir)
    n_part = 16

    def histogram(df):
        return [
            r["n"]
            for r in df.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count("*").alias("n"))
            .collect()
        ]

    total = events.count()
    raw = histogram(events.repartition(n_part, F.col("tenant")))
    salted = histogram(
        events.repartition(
            n_part, F.col("tenant"), F.pmod(F.hash("event_id"), F.lit(8))
        )
    )
    assert max(raw) / total > 0.85  # the hot key concentrates
    assert max(salted) / total < 0.30  # salting spreads it


def test_salted_join_matches_under_forced_shuffle(spark, sf_dir):
    """Equivalence with broadcast disabled (autoBroadcastJoinThreshold=-1):
    the salted join must plan a SHUFFLE join on (key, _salt) — the scale
    regime where salting matters — and still return exactly the plain-join
    result."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        events = _skewed_events(spark, sf_dir)
        dim = _tenant_dim(spark, events)
        salted = salted_join(events, dim, "tenant", n_salts=8)
        plan = salted._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:1500]
        got = salted.groupBy("tenant", "region").count()
        want = events.join(dim, "tenant").groupBy("tenant", "region").count()
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
