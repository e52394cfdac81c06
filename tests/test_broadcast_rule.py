"""One broadcast rule: every join side the planner cannot size goes through
``session.broadcast_if_small``, sized against the session's
``spark.sql.autoBroadcastJoinThreshold``. Which branch it takes must never
change a result, so every gated query runs under the default threshold
and again with ``-1``, which forces every shuffle branch."""

from __future__ import annotations

import pytest

from drive_health_etl_spark.operators import fitcache
from drive_health_etl_spark.plans.registry import REGISTRY
from drive_health_etl_spark.session import broadcast_if_small, spark_conf

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"

GATED = [
    "graph_pagerank",
    "graph_kcore",
    "graph_hits",
    "sim_ann_ivfpq",
    "dedup_prefix_join",
    "dedup_edit_join",
    "dedup_suffix_lcs",
]


def _hinted(df) -> bool:
    return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()


def test_rule_sizes_rows_by_schema_width(spark):
    df = spark.range(1).selectExpr("id", "CAST(id AS DOUBLE) AS r")  # 8 + 8 + 8 B/row
    with spark_conf(spark, {THRESHOLD: "2400"}):
        assert _hinted(broadcast_if_small(df, 100))
        assert not _hinted(broadcast_if_small(df, 101))
    with spark_conf(spark, {THRESHOLD: "1KB"}):  # parsed, not compared as text
        assert _hinted(broadcast_if_small(df, 1024 // 24))
        assert not _hinted(broadcast_if_small(df, 1024 // 24 + 1))
    with spark_conf(spark, {THRESHOLD: "-1"}):
        assert not _hinted(broadcast_if_small(df, 0))


def _values(spark, sf_dir, name) -> list[tuple]:
    # cached builds were planned under the other threshold: drop them
    fitcache.purge(lambda k: k[1] == sf_dir)
    return sorted((tuple(r) for r in REGISTRY[name][0](spark, sf_dir).collect()), key=repr)


@pytest.mark.parametrize("name", GATED)
def test_values_invariant_under_forced_shuffle(spark, sf_dir, name):
    default = _values(spark, sf_dir, name)
    try:
        with spark_conf(spark, {THRESHOLD: "-1"}):
            forced = _values(spark, sf_dir, name)
    finally:
        fitcache.purge(lambda k: k[1] == sf_dir)
    assert default
    assert forced == default
