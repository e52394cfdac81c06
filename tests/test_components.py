"""Connected-components: the hybrid execution paths must agree."""

from __future__ import annotations

from drive_health_etl_spark.operators import dedup
from drive_health_etl_spark.operators.dedup import (
    _cc_star_contraction,
    dedup_components,
)


def test_driver_and_distributed_paths_agree(spark, sf_dir, monkeypatch):
    local = sorted(map(tuple, dedup_components(spark, sf_dir).collect()))
    monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", 0)
    distributed = sorted(map(tuple, dedup_components(spark, sf_dir).collect()))
    assert local == distributed
    # every component root is a member of its own component and is minimal
    roots = {r for _d, r in local}
    docs = {d for d, _r in local}
    assert roots <= docs
    assert all(r <= d for d, r in local)


def test_star_contraction_high_diameter_path(spark):
    """A 200-node path graph has diameter 199 — plain min-label propagation
    would need ~200 rounds, star contraction O(log n). Verifies (a) correct
    single component rooted at the min, (b) per-round checkpointing keeps
    the plan bounded (the run would blow up the planner otherwise)."""
    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "u long, v long"
    ).repartition(4)
    from drive_health_etl_spark.session import shuffle_partitions

    with shuffle_partitions(spark, 4):
        labels = _cc_star_contraction(edges)
        rows = labels.collect()
    assert len(rows) == n
    assert all(r["component_root"] == 1 for r in rows)
    assert sorted(r["doc_id"] for r in rows) == list(range(1, n + 1))


def test_star_contraction_multi_component(spark):
    """Two chains + one isolated pair + a triangle: roots are per-component
    minima, no cross-component leakage."""
    comps = (
        [(i, i + 1) for i in range(10, 40)]      # chain rooted at 10
        + [(i, i + 1) for i in range(100, 130)]  # chain rooted at 100
        + [(500, 501)]                           # pair
        + [(900, 901), (901, 902), (900, 902)]   # triangle
    )
    edges = spark.createDataFrame(comps, "u long, v long")
    from drive_health_etl_spark.session import shuffle_partitions

    with shuffle_partitions(spark, 4):
        got = {r["doc_id"]: r["component_root"] for r in _cc_star_contraction(edges).collect()}
    assert all(got[i] == 10 for i in range(10, 41))
    assert all(got[i] == 100 for i in range(100, 131))
    assert got[500] == got[501] == 500
    assert got[900] == got[901] == got[902] == 900


def test_pagerank_chain_broadcasts_below_node_threshold(spark, sf_dir):
    """r12: below the session's broadcast threshold the 3-round rank chain
    must run as broadcast-hash joins (the edge relation is never shuffled
    per round) with no sort-merge join; with the threshold at -1 (the
    forced-shuffle branch) the shuffle joins return.
    The localCheckpointed node/rank relations have no size stats, so
    without the explicit conditional hint the planner SMJ-shuffled the
    full edge list every iteration (measured 20 Exchange / 12 SMJ)."""
    from drive_health_etl_spark.operators import graph as G
    from drive_health_etl_spark.session import spark_conf

    def chain_plan():
        df = G._pagerank_ranks(spark, sf_dir)
        return spark.sparkContext._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    plan = chain_plan()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2 * G.PR_ITERS
    with spark_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        big = chain_plan()  # the 100 TB path
    assert "SortMergeJoin" in big
