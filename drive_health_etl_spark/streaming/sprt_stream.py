"""Streaming SPRT monitor: always-valid A/B stopping evaluated per
micro-batch.

The batch query (`stat_sprt_ab`) finds the exact per-event stopping point;
in production the same test runs ON THE STREAM — after every micro-batch
the experimentation platform re-evaluates the Wald boundaries and stops the
experiment the moment a boundary is crossed, instead of waiting for a fixed
horizon. This operator is that monitor: the treatment arm's conversion
stream is spooled into ``_SPRT_BATCHES`` time-ordered files (one
micro-batch each), a ``foreachBatch`` loop keeps the running (n, k)
counters (the only state — two integers, the state-store cost of SPRT is
nil at any scale), and the result is the batch-by-batch LLR trace with the
decision as of each batch.

Determinism: batch boundaries are row-count terciles of the (ts, event_id)
order, so the DuckDB oracle reproduces them with NTILE over the same
ordering; LLR at each boundary is two integer-by-literal products (the
`stat_sprt_ab` construction — no running float state to drift).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from drive_health_etl_spark.plans.stats_suite import (
    _SPRT_LA,
    _SPRT_LB,
    _SPRT_LOWER,
    _SPRT_UPPER,
)
from drive_health_etl_spark.sources.tables import load_table
from drive_health_etl_spark.streaming.spool import drain, scratch, spool

_SPRT_BATCHES = 3


def sprt_fold(trace: list[tuple[int, int, int]]) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` callback: fold each micro-batch of ``x`` (0/1
    conversions) into the running (n, k) counters and append
    (batch, cum_n, cum_k) to ``trace``."""
    state = {"n": 0, "k": 0}  # the ENTIRE SPRT state: two integers

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        agg = batch_df.groupBy().agg(
            F.count("*").alias("n"), F.coalesce(F.sum("x"), F.lit(0)).alias("k")
        ).collect()[0]
        state["n"] += int(agg["n"])
        state["k"] += int(agg["k"])
        trace.append((int(batch_id) + 1, state["n"], state["k"]))

    return on_batch


def st_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch SPRT readout: (batch, cum_n, cum_k, llr, state)."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 2 == 1)
        .select(
            "ts",
            "event_id",
            (F.col("event_type") == "purchase").cast("int").alias("x"),
        )
    )
    # FIXTURE-ONLY global sort: this NTILE builds the 3 deterministic test
    # micro-batch files so the DuckDB oracle can reproduce the batch
    # boundaries. Nothing here ships to the 100-TB path — the monitor's
    # state is two integers and the per-batch agg is map-side combinable.
    w = Window.orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # The spool is ONE partitioned write (streaming/spool.py): a single job
    # computes the scan + global sort + NTILE once and writes every
    # batch's file in one pass. `b` stays a data column.
    batched = e.select("x", F.ntile(_SPRT_BATCHES).over(w).alias("b"))
    # An empty micro-batch (no treatment-arm events landed in a tercile)
    # writes no file; the cum counters are unchanged by it anyway.
    rows: list[tuple[int, int, int]] = []
    with scratch(spark, "dhe_sprt_") as tmp:
        drain(spool(batched, F.col("b"), f"{tmp}/src"), tmp, foreach_batch=sprt_fold(rows))

    out = spark.createDataFrame(rows, "batch int, cum_n long, cum_k long")
    llr = (
        F.col("cum_k").cast("double") * F.lit(_SPRT_LA)
        + (F.col("cum_n") - F.col("cum_k")).cast("double") * F.lit(_SPRT_LB)
    )
    return (
        out.select(
            "batch",
            "cum_n",
            "cum_k",
            F.round(llr, 9).alias("llr"),
            F.when(llr >= F.lit(_SPRT_UPPER), F.lit("accept_h1"))
            .when(llr <= F.lit(_SPRT_LOWER), F.lit("accept_h0"))
            .otherwise(F.lit("continue"))
            .alias("state"),
        )
        .orderBy("batch")
    )


ST_SPRT_MONITOR_SQL = f"""
WITH e AS (
  SELECT ts, event_id, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
  FROM events WHERE user_id % 2 = 1
),
batched AS (
  SELECT x, NTILE({_SPRT_BATCHES}) OVER (ORDER BY ts ASC, event_id ASC) AS b FROM e
),
per_b AS (SELECT b, COUNT(*) AS n, SUM(x) AS k FROM batched GROUP BY b),
cum AS (
  SELECT b AS batch,
         SUM(n) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
         SUM(k) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_k
  FROM per_b
)
SELECT CAST(batch AS INT) AS batch, CAST(cum_n AS BIGINT) AS cum_n, CAST(cum_k AS BIGINT) AS cum_k,
       ROUND(CAST(cum_k AS DOUBLE) * {_SPRT_LA!r}
             + CAST(cum_n - cum_k AS DOUBLE) * {_SPRT_LB!r}, 9) AS llr,
       CASE
         WHEN CAST(cum_k AS DOUBLE) * {_SPRT_LA!r}
              + CAST(cum_n - cum_k AS DOUBLE) * {_SPRT_LB!r} >= {_SPRT_UPPER!r} THEN 'accept_h1'
         WHEN CAST(cum_k AS DOUBLE) * {_SPRT_LA!r}
              + CAST(cum_n - cum_k AS DOUBLE) * {_SPRT_LB!r} <= {_SPRT_LOWER!r} THEN 'accept_h0'
         ELSE 'continue'
       END AS state
FROM cum ORDER BY batch
"""
