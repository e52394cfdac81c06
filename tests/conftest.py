from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from drive_health_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def get_shared_spark():
    """Session accessor for tests (e.g. hypothesis bodies) that cannot take
    the fixture as a parameter; getOrCreate returns the shared session."""
    return get_spark("dhe-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))


def group_jobs(spark, group: str, fn) -> list[dict]:
    """Run ``fn()`` under Spark job group ``group`` and describe each job it
    ran: ``stages``, the stage names (a stage is named after its call site,
    e.g. ``parquet at NativeMethodAccessorImpl.java:0``), and ``sql``,
    whether the job ran inside a SQL execution. Broadcast and AQE stage
    jobs inherit the group. A job outside every SQL execution ran at
    analysis time, e.g. a parquet schema-inference job; a parquet write
    has the same stage name but runs inside its execution."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # both status stores are fed by the (asynchronous) listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    sql_jobs = set()
    for i in range(executions.size()):
        it = executions.apply(i).jobs().keys().iterator()
        while it.hasNext():
            sql_jobs.add(it.next())
    st = sc.statusTracker()
    jobs = []
    for jid in sorted(st.getJobIdsForGroup(group)):
        stages = (st.getStageInfo(sid) for sid in st.getJobInfo(jid).stageIds)
        jobs.append({"stages": [s.name for s in stages if s is not None], "sql": jid in sql_jobs})
    return jobs


@pytest.fixture(scope="session")
def spark():
    yield get_shared_spark()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
